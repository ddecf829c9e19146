"""Lineage cutting for iterative operators — local vs reliable.

Iterative DataFrame algorithms (large-star/small-star connected
components, pointer-doubling list reconstitution) MUST truncate
lineage every round or each iteration re-derives the whole upstream
pipeline (SURVEY §4; measured 106s → 8s on CC). Two ways to cut:

  - ``localCheckpoint()`` (default): materializes to executor-local
    storage. Fast — no DFS round trip — but NOT fault-tolerant:
    lineage is truncated, so if an executor holding checkpointed
    partitions dies, those partitions are unrecoverable and the JOB
    fails. The right default on local[N] (one JVM — executor loss IS
    job loss anyway) and acceptable for short interactive jobs.
  - ``checkpoint(eager=True)`` with a checkpoint dir: writes to the
    reliable store (HDFS/S3/local-dir). Survives executor loss — on a
    1000-executor cluster running hours-long CC over 10^12 edges,
    losing one box mid-iteration 14 must not kill the job, so
    production runs pass ``checkpoint_dir``.

The operators whose runs are long enough to need the reliable path
take an optional ``checkpoint_dir`` and thread it through to here:
``canonicalize.connected_components`` (and ``dedup.minhash_dedup_components``
above it), ``from_rdf_ops.reconstitute_lists`` and
``pipeline.alias_merge_map``. The two paths produce identical results
(pytest-verified) — the choice is purely a durability/latency trade.
The graph operators (``operators/graph.py``) and
``kg_train.deterministic_walks`` always cut locally: they run a few
fixed rounds over entity graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut_lineage(
    df: DataFrame,
    checkpoint_dir: "str | None" = None,
    eager: bool = True,
) -> DataFrame:
    """Materialize ``df`` and truncate its lineage.

    ``checkpoint_dir=None`` → ``localCheckpoint`` (fast, executor-local,
    not fault-tolerant). Otherwise → reliable ``checkpoint`` into the
    given directory (set once per session; Spark's checkpoint dir is
    session-global, so all reliable checkpoints of a job share it).

    ``eager=False`` defers materialization to the caller's NEXT action.
    Iterative loops that immediately run a convergence probe (a count /
    checksum) should pass eager=False so the probe action materializes
    the checkpoint — one blocking job per round instead of two; with
    per-round latency dominated by job launch, that halves the fixed
    cost of every iteration. The deferral only applies to the LOCAL
    path: a reliable ``checkpoint()`` runs one job for the action and
    a SECOND pass over the plan to write the checkpoint files, so on
    the reliable path we persist first (MEMORY_AND_DISK) so the
    checkpoint write reads the cached partitions instead of
    recomputing the full upstream plan, checkpoint eagerly, then
    unpersist — the round's frame is durable on the reliable store
    and the cache slot is returned before the next round.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    from pyspark.storagelevel import StorageLevel

    sc = df.sparkSession.sparkContext
    sc.setCheckpointDir(checkpoint_dir)
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return df.checkpoint(eager=True)
    finally:
        df.unpersist()
