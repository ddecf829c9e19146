"""KG materialization lifecycle: snapshot diffing and SCD2 merges.

A production KG is not built once — it is re-materialized per crawl /
per policy change, and downstream consumers need (a) the CHANGELOG
between two materializations and (b) a VERSIONED dimension table that
preserves history (the Iceberg/warehouse MERGE shape, kept engine-
agnostic here as pure DataFrame transforms so the same logic drives
`MERGE INTO` on an actual lakehouse table).

Scale design: everything is key-partitioned joins — diff is two
anti-joins on the row key, SCD2 is one full-outer join of the LIVE
slice against the snapshot (history rows never join, they pass
through), so cost tracks the live dimension + snapshot, not the
accumulated history.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: "list[str]",
) -> DataFrame:
    """(key..., change): rows 'added' in ``new`` and 'removed' from
    ``old``, comparing DISTINCT keys — the triple changelog between
    two KG materializations. Two co-partitioned anti-joins on the
    full key; unchanged rows (the overwhelming majority between
    adjacent snapshots) never leave their map side. Each side feeds
    BOTH anti-joins, so the deduped projections are localCheckpointed
    — without it a derived input (e.g. the full emission pipeline)
    is recomputed once per direction."""
    o = old.select(*key_cols).dropDuplicates().localCheckpoint()
    n = new.select(*key_cols).dropDuplicates().localCheckpoint()
    added = n.join(o, key_cols, "left_anti").withColumn(
        "change", F.lit("added")
    )
    removed = o.join(n, key_cols, "left_anti").withColumn(
        "change", F.lit("removed")
    )
    return added.unionByName(removed)


def scd2_merge(
    current: DataFrame,
    snapshot: DataFrame,
    key_cols: "list[str]",
    attr_cols: "list[str]",
) -> DataFrame:
    """Slowly-changing-dimension type-2 merge of ``snapshot`` into
    the versioned ``current`` table (``version``, ``is_current``
    columns). Per key:

      - attrs unchanged → the live row passes through untouched;
      - attrs changed  → the live row is CLOSED (is_current=false)
        and a new row opens at version+1;
      - key only in snapshot → inserted at version 1;
      - key only in current (deleted upstream) → live row closed;
      - historical rows (is_current=false) always pass through.

    One full-outer join of the live slice vs the snapshot on the
    key; attribute equality is null-safe. Deterministic, so the SQL
    oracle replays every branch."""
    hist = current.filter(~F.col("is_current"))
    live = current.filter(F.col("is_current")).alias("l")
    # presence of a side can't be read off nullable attrs; tag both
    # explicitly
    snap = snapshot.select(
        *key_cols, *attr_cols, F.lit(True).alias("_snap")
    ).alias("s")
    j = live.join(snap, on=key_cols, how="full_outer")
    in_live = F.col("l.version").isNotNull()
    in_snap = F.col("s._snap").isNotNull()

    same = reduce(
        lambda a, b: a & b,
        [
            F.col(f"l.{a}").eqNullSafe(F.col(f"s.{a}"))
            for a in attr_cols
        ],
    )
    out_cols = key_cols + attr_cols + ["version", "is_current"]

    def pick(side: str):
        return (
            [F.col(c) for c in key_cols]
            + [F.col(f"{side}.{a}").alias(a) for a in attr_cols]
        )

    unchanged = j.filter(in_live & in_snap & same).select(
        *pick("l"),
        F.col("l.version").alias("version"),
        F.lit(True).alias("is_current"),
    )
    closed = j.filter(in_live & (~in_snap | ~same)).select(
        *pick("l"),
        F.col("l.version").alias("version"),
        F.lit(False).alias("is_current"),
    )
    opened = j.filter(in_snap & in_live & ~same).select(
        *pick("s"),
        (F.col("l.version") + 1).alias("version"),
        F.lit(True).alias("is_current"),
    )
    inserted = j.filter(in_snap & ~in_live).select(
        *pick("s"),
        F.lit(1).cast("int").alias("version"),
        F.lit(True).alias("is_current"),
    )
    return (
        hist.select(*out_cols)
        .unionByName(unchanged.select(*out_cols))
        .unionByName(closed.select(*out_cols))
        .unionByName(opened.select(*out_cols))
        .unionByName(inserted.select(*out_cols))
    )
