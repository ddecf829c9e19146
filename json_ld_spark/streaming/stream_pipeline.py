"""Structured Streaming path: transcript micro-batches → triples, plus
the stateful and watermarked operators the stream_* driver gates replay.

Parity: the reference's streaming reader emits statements in a single
pass per document (streaming_reader.rb:29-54); our per-turn transform
is already single-pass, so the streaming pipeline is the same
``emit_triples`` applied inside ``foreachBatch`` — one code path for
batch and streaming (SURVEY §1.3 "streaming reader" row).

Exactly-once: foreachBatch + checkpointLocation gives idempotent
append (epoch id dedupes replays at the sink).

The transcript reader takes ONE file per trigger: each staged file is
its own micro-batch, so a replay of k files runs k real batches and
exercises micro-batch-boundary independence. The operators below take
a stream and return a stream; the driver gates run them through one
bounded-replay harness (``_replay`` in ``__spark_entry__.py``): ordered
one-file parts, an availableNow trigger, and a check that every part
arrived as its own micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_ld_spark.operators.jsonld_ops import emit_triples
from json_ld_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark: SparkSession, input_path: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )


def stream_triples(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    query_name: str = "kg_stream",
):
    """Streaming triple emission. nextTurn links need the batch to
    contain the conversation prefix, so the streaming path emits
    triples without the ordering window (ordered=False) — cross-batch ordering is a batch-compaction job's
    responsibility, exactly like the reference's streaming writer
    defers reordering (streaming_writer.rb:14-125).
    """
    stream = read_transcript_stream(spark, input_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        triples = emit_triples(batch_df, ordered=False)
        (
            triples.withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("append")
            .parquet(output_path)
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .queryName(query_name)
        .start()
    )


def stream_turn_rate(
    transcripts_stream: DataFrame,
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time windowed turn counts with late-data watermark —
    the monitoring aggregate for a live ingestion pipeline.

    Output: (window_start, window_end, role, n_turns, n_convs) with
    NTZ window bounds (engine-neutral, same shape as
    ``stream_event_counts``). ``n_turns`` is exact and gated against
    the batch answer by the ``stream_turn_rate`` driver query;
    ``n_convs`` is HLL++ (approx_count_distinct — exact distinct is
    unsupported in streaming aggs), deterministic within Spark but
    engine-specific, so the gate selects it out."""
    return (
        transcripts_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.approx_count_distinct("conv_id").alias("n_convs"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "role",
            "n_turns",
            "n_convs",
        )
    )


def stream_event_counts(events_stream: DataFrame) -> DataFrame:
    """Watermarked event-time windowed aggregation (append mode, 1-hour
    windows, 30-minute watermark): the late-data-dropping monitoring
    aggregate. A row older than the current watermark is DROPPED; a
    window is emitted once the watermark passes its end — the
    semantics the stream_windowed_counts query gates against
    the batch answer (emitted windows must hold exactly the non-late
    rows)."""
    # watermarks require TIMESTAMP (LTZ); parquet events carry NTZ —
    # the session runs UTC, so the cast preserves wall-clock and the
    # output casts back to NTZ for engine-neutral comparison
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stateful_turn_chain(transcripts_stream: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): resolve
    nextTurn links ACROSS micro-batches.

    The batch path gets nextTurn from a window over the whole
    conversation; a stream only sees a prefix per batch. State keeps
    each conversation's last-seen turn index, so when the next batch
    delivers the following turn the link triple's (subj→obj) pair is
    emitted here — closing the gap the plain foreachBatch path defers
    to compaction.

    Output: (conv_id, turn_idx, next_turn_idx) link rows, including
    the cross-batch ones that the per-batch window cannot see.

    State never times out (NoTimeout). A bounded replay
    (``trigger(availableNow=True)``) must stop once its backlog is
    drained, and a processing-time timeout would keep Spark scheduling
    timeout-evaluation batches so the query never terminates on its
    own. The state is one int per conversation.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "conv_id string, turn_idx int, next_turn_idx int"
    state_schema = "last_turn_idx int"

    def chain(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        (conv_id,) = key
        last = state.get[0] if state.exists else None
        # collect ALL chunks before sorting: a big group arrives as
        # multiple Arrow chunks (maxRecordsPerBatch) in shuffle order —
        # sorting per chunk would link across chunk boundaries wrongly
        # and carry a wrong last-turn into state
        idxs = sorted(
            int(x) for pdf in pdf_iter for x in pdf["turn_idx"]
        )
        rows = []
        for idx in idxs:
            if last is not None:
                rows.append((conv_id, last, idx))
            last = idx
        state.update((last,))
        yield pd.DataFrame(rows, columns=["conv_id", "turn_idx", "next_turn_idx"])

    return transcripts_stream.groupBy("conv_id").applyInPandasWithState(
        chain,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_exact_dedup(
    events_stream: DataFrame,
    watermark: str = "240 hours",
) -> DataFrame:
    """Streaming exact deduplication (dropDuplicatesWithinWatermark):
    the ingestion-side twin of the batch exact-dedup family — at-least-
    once upstream delivery (replayed Kafka offsets, retried file
    drops) re-sends the same record across micro-batches, and this
    operator emits each ``event_id``'s FIRST arrival and drops every
    duplicate that lands within ``watermark`` of it (event time
    ``ts``).

    Why WithinWatermark and not plain dropDuplicates: plain streaming
    dropDuplicates keeps every key's state FOREVER — unbounded state
    on an unbounded stream. The watermark variant evicts a key's
    state once the event-time watermark passes its first arrival +
    delay, which bounds state by the duplicate-arrival horizon (a
    delivery-layer property you know) rather than by stream lifetime.
    At 100 TB/day this is the difference between a fixed-size state
    store and an OOM.

    The output preserves the full row of the first arrival; emitted
    timestamps are cast back to NTZ so the sink is engine-neutral
    (same LTZ/NTZ policy as stream_event_counts)."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    )


def stream_hll_registers(keyed_stream: DataFrame, b: int = 8) -> DataFrame:
    """Streaming HyperLogLog (applyInPandasWithState): the per-group
    register array — 2^b bytes, the whole sketch — lives in state and
    is MAXed with each micro-batch's (bucket, rank) rows; every
    invocation emits a snapshot of the group's current summaries with
    a monotonically increasing ``seq``, so the max-seq row per group
    is the final sketch.

    This is the mergeability property made operational: registers
    max-combine, so at-least-once redelivery (the same value arriving
    in three different micro-batches) cannot move the estimate — the
    gate plants exactly that. The emitted estimate is computed by
    operators/sketches.estimate_from_registers with arithmetic
    operand-for-operand equal to the batch path, so the final
    snapshot equals batch hll_distinct bit-for-bit.

    State is a fixed 2^b-byte binary per group — the O(1)-per-key
    bound that makes streaming distinct-count viable at 100 TB where
    exact streaming distinct state grows with cardinality.

    Input: ``keyed_stream`` with (group, bucket int, rank int) — the
    per-row hash half is JVM-side (sketches.hll_bucket_rank) so only
    the tiny triple reaches Python."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    m = 1 << b
    output_schema = (
        "group string, seq int, m int, nonempty int, "
        "s_scaled long, est double"
    )
    state_schema = "regs binary, seq int"

    def update(key, pdf_iter, state: "GroupState"):
        import numpy as np
        import pandas as pd

        from json_ld_spark.operators.sketches import (
            estimate_from_registers,
        )

        (group,) = key
        if state.exists:
            prev_regs, prev_seq = state.get
            regs = np.frombuffer(prev_regs, dtype=np.uint8).copy()
        else:
            regs, prev_seq = np.zeros(m, dtype=np.uint8), 0
        for pdf in pdf_iter:
            if len(pdf):
                np.maximum.at(
                    regs,
                    pdf["bucket"].to_numpy(np.int64),
                    pdf["rank"].to_numpy(np.uint8),
                )
        seq = prev_seq + 1
        state.update((regs.tobytes(), seq))
        nonempty = int((regs > 0).sum())
        s_nonempty = sum(
            1 << (51 - int(r)) for r in regs[regs > 0] if r <= 51
        )
        s_scaled, est = estimate_from_registers(nonempty, s_nonempty, b)
        yield pd.DataFrame(
            [(group, seq, m, nonempty, s_scaled, est)],
            columns=["group", "seq", "m", "nonempty", "s_scaled", "est"],
        )

    return keyed_stream.groupBy("group").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_sessionize(keyed_events: DataFrame) -> DataFrame:
    """Streaming sessionization (applyInPandasWithState): the
    event-time-gap sessionizer running ACROSS micro-batches; an
    event more than 30 minutes after its user's previous one opens a
    new session.

    The batch path sessionizes with a lag-window over the whole
    history; a stream only sees a slice per batch, so the per-user
    state carries (current session_idx, last event epoch, running
    aggregates) forward — a session that straddles a micro-batch
    boundary is stitched by state, not recomputed.

    Every invocation emits one SNAPSHOT row per session touched in
    that batch (cumulative aggregates, monotone ``seq``): a session
    closed mid-batch gets its final row; the still-open session gets
    a row that a later batch may supersede. The max-seq row per
    (user, session) is therefore the session's final aggregate —
    the same last-snapshot-wins contract as stream_hll_registers —
    and open sessions at end-of-replay are flushed implicitly by
    their latest snapshot.

    Requires event-time-ordered batches per user (the staged-replay
    gate guarantees it; a production pipeline puts a watermark-sorted
    buffer in front, or accepts resequencing at compaction as the
    batch twin documents). State is O(1) per user.

    Input: (user_id long, event_id long, epoch long, value double) —
    epoch precomputed JVM-side so only four narrow columns cross
    into Python. ``epoch`` is in microseconds, so sub-second
    timestamps survive the round-trip exactly."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = 1800 * 1_000_000
    output_schema = (
        "user_id long, seq int, session_idx long, n_events long, "
        "start_epoch long, end_epoch long, vsum double"
    )
    state_schema = (
        "session_idx long, last_epoch long, start_epoch long, "
        "n long, vsum double, seq int"
    )

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            sidx, last, start, n, vsum, seq = state.get
        else:
            sidx, last, start, n, vsum, seq = -1, None, 0, 0, 0.0, 0
        # collect ALL chunks before sorting (same contract as
        # stateful_turn_chain: Arrow chunking must not split order)
        ev = sorted(
            (int(e), int(i), float(v))
            for pdf in pdf_iter
            for e, i, v in zip(pdf["epoch"], pdf["event_id"], pdf["value"])
        )
        seq += 1
        touched: "dict[int, tuple]" = {}
        for epoch, _eid, value in ev:
            if last is None or epoch - last > gap:
                sidx += 1
                start, n, vsum = epoch, 0, 0.0
            n += 1
            vsum += value
            last = epoch
            touched[sidx] = (start, last, n, vsum)
        state.update((sidx, last, start, n, vsum, seq))
        yield pd.DataFrame(
            [
                (user_id, seq, si, cnt, st, en, vs)
                for si, (st, en, cnt, vs) in touched.items()
            ],
            columns=[
                "user_id", "seq", "session_idx", "n_events",
                "start_epoch", "end_epoch", "vsum",
            ],
        )

    return keyed_events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_minhash_dedup(banded_stream: DataFrame) -> DataFrame:
    """Streaming NEAR-duplicate detection (applyInPandasWithState):
    the incremental-LSH-index pattern — state is one representative
    doc id per minhash band bucket, so an arriving document that
    lands in any occupied bucket is flagged against the earliest
    occupant, ACROSS micro-batches.

    Input: (bucket string, doc_id long) — signatures and band-bucket
    keys are computed JVM-side in the stream's select chain (the
    same canonicalize.py primitives as the batch path); only the
    two-column collision stream reaches Python. Output: one row per
    (arriving doc, occupied bucket) hit: (bucket, doc_id, rep).

    Skew story: unlike the batch per-bucket SELF-join (which needs
    the 64-row hot-bucket cap), the streaming index emits at most
    ONE row per arriving doc per band — a hot bucket costs O(n), not
    O(n²), so no cap is needed and the oracle replays the bucket
    table uncapped. State is O(distinct buckets) with a single long
    each — the minimal sketch of the corpus seen so far.

    Requires id-ordered arrival for the "earliest occupant" contract
    (the gate stages id-ordered batches; a production pipeline keys
    representatives by arrival and gets first-seen semantics)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        (bucket,) = key
        rep = state.get[0] if state.exists else None
        ids = sorted(
            int(x) for pdf in pdf_iter for x in pdf["doc_id"]
        )
        rows = []
        for did in ids:
            if rep is not None and rep < did:
                rows.append((bucket, did, rep))
            if rep is None or did < rep:
                rep = did
        state.update((rep,))
        yield pd.DataFrame(rows, columns=["bucket", "doc_id", "rep"])

    return banded_stream.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType="bucket string, doc_id long, rep bigint",
        stateStructType="rep long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_cms_registers(keyed_stream: DataFrame, w: int = 256) -> DataFrame:
    """Streaming count-min sketch (applyInPandasWithState): each hash
    row's w-counter register array lives in state and SUMS each
    micro-batch's (bucket) hits — the bounded-memory frequency
    summary as stream state (one group of w int64s per hash row,
    independent of key cardinality).

    Snapshot contract as in stream_hll_registers: every invocation
    emits the row's current register array with a monotone ``seq``;
    the max-seq snapshot per row equals the batch sketch. Unlike HLL
    registers, SUM-merge is NOT redelivery-idempotent — this is the
    exactly-once-input sketch (the gate stages disjoint batches; an
    at-least-once source needs upstream dedup, which
    stream_exact_dedup provides).

    Input: (row_idx int, bucket int) coordinate stream — computed
    JVM-side (sketches.cms_bucket), one row per hash row per
    record."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: "GroupState"):
        import numpy as np
        import pandas as pd

        (row_idx,) = key
        if state.exists:
            prev, prev_seq = state.get
            regs = np.frombuffer(prev, dtype=np.int64).copy()
        else:
            regs, prev_seq = np.zeros(w, dtype=np.int64), 0
        for pdf in pdf_iter:
            if len(pdf):
                np.add.at(regs, pdf["bucket"].to_numpy(np.int64), 1)
        seq = prev_seq + 1
        state.update((regs.tobytes(), seq))
        yield pd.DataFrame(
            [(int(row_idx), seq, [int(x) for x in regs])],
            columns=["row_idx", "seq", "counts"],
        )

    return keyed_stream.groupBy("row_idx").applyInPandasWithState(
        update,
        outputStructType="row_idx int, seq int, counts array<long>",
        stateStructType="regs binary, seq int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
