"""Structured Streaming path: micro-batch triple emission + windowed
turn-rate aggregation."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

from json_ld_spark.sources.transcripts import synthesize_transcripts
from json_ld_spark.streaming.stream_pipeline import (
    read_transcript_stream,
    stream_triples,
    stream_turn_rate,
)


def test_stream_triples_end_to_end(spark):
    workdir = tempfile.mkdtemp()
    inp = os.path.join(workdir, "in")
    out = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    try:
        t = synthesize_transcripts(spark, n_convs=6)
        t.drop("conv_bucket", "next_turn_idx", "turn_rank").write.parquet(inp)
        q = stream_triples(spark, inp, out, ckpt)
        q.processAllAvailable()
        q.stop()
        triples = spark.read.parquet(out)
        n_stream = triples.filter(F.col("error_code").isNull()).count()
        # batch emission without ordering (streaming drops nextTurn links)
        from json_ld_spark.operators.jsonld_ops import emit_triples, valid_triples

        n_batch = valid_triples(emit_triples(t, ordered=False)).count()
        assert n_stream == n_batch > 0
        assert "epoch_id" in triples.columns
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_stream_turn_rate(spark):
    workdir = tempfile.mkdtemp()
    inp = os.path.join(workdir, "in")
    try:
        t = synthesize_transcripts(spark, n_convs=6)
        t.write.parquet(inp)
        stream = read_transcript_stream(spark, inp)
        agg = stream_turn_rate(stream, "5 minutes", "10 minutes")
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("turn_rate")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        rows = spark.sql("SELECT * FROM turn_rate").collect()
        assert rows and sum(r["n_turns"] for r in rows) == t.count()
        assert {r["role"] for r in rows} <= {"user", "assistant", "tool"}
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_stateful_turn_chain_links_across_batches(spark):
    """applyInPandasWithState resolves nextTurn links that span
    micro-batches: batch 1 delivers turns 0-1, batch 2 delivers turn 2;
    the (1 → 2) link only exists because conversation state survived
    between batches."""
    from json_ld_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from json_ld_spark.streaming.stream_pipeline import stateful_turn_chain

    rows_b1 = [
        ("c1", 0, "user", "hi", None, datetime.datetime(2024, 1, 1, 0, 0)),
        ("c1", 1, "assistant", "yo", None, datetime.datetime(2024, 1, 1, 0, 1)),
        ("c2", 0, "user", "a", None, datetime.datetime(2024, 1, 1, 0, 0)),
    ]
    rows_b2 = [
        ("c1", 2, "user", "more", None, datetime.datetime(2024, 1, 1, 0, 2)),
        ("c2", 1, "assistant", "b", None, datetime.datetime(2024, 1, 1, 0, 3)),
    ]
    parts = [
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
        for rows in (rows_b1, rows_b2)
    ]
    got = {
        (r.conv_id, r.turn_idx, r.next_turn_idx)
        for r in E._replay(spark, parts, stateful_turn_chain).collect()
    }
    assert ("c1", 0, 1) in got
    assert ("c1", 1, 2) in got, f"cross-batch link missing: {got}"
    assert ("c2", 0, 1) in got


def test_stateful_turn_chain_sorts_across_arrow_chunks(spark, tmp_path):
    """A group whose batch spans MULTIPLE Arrow chunks must be sorted
    globally before linking: per-chunk sorting links across chunk
    boundaries wrongly and carries the wrong last-turn into state
    (regression: the chain function used to sort per pdf chunk)."""
    import glob

    from json_ld_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from json_ld_spark.streaming.stream_pipeline import stateful_turn_chain

    n = 40
    # reversed order so any chunking that isn't globally sorted breaks
    rows = [
        ("c1", i, "user", f"t{i}", None, datetime.datetime(2024, 1, 1, 0, 0))
        for i in reversed(range(n))
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    staging = tmp_path / "stage"
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(
        str(staging)
    )
    part = glob.glob(str(staging / "part-*.parquet"))[0]
    shutil.copy(part, str(in_dir / "batch0.parquet"))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = (
            spark.readStream.schema(TRANSCRIPT_SCHEMA)
            .parquet(str(in_dir))
        )
        links = stateful_turn_chain(stream)
        q = (
            links.writeStream.format("memory")
            .queryName("turn_chain_chunks")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = sorted(
        (r.turn_idx, r.next_turn_idx)
        for r in spark.sql("SELECT * FROM turn_chain_chunks").collect()
    )
    assert got == [(i, i + 1) for i in range(n - 1)]


def test_stream_exact_dedup_drops_cross_batch_duplicates(spark):
    """Two micro-batches where batch 1 re-sends half of batch 0's rows
    verbatim (at-least-once redelivery): the deduped sink must hold
    each event exactly once, including the batch-1-only rows."""
    from json_ld_spark.streaming.stream_pipeline import stream_exact_dedup

    base = datetime.datetime(2024, 1, 1)
    rows0 = [(i, base + datetime.timedelta(minutes=i), "a") for i in range(10)]
    resent = rows0[::2]
    rows1 = [
        (i, base + datetime.timedelta(minutes=i), "b") for i in range(10, 16)
    ] + resent
    schema = "event_id long, ts timestamp_ntz, event_type string"
    parts = [spark.createDataFrame(rows, schema) for rows in (rows0, rows1)]
    got = E._replay(
        spark, parts, lambda s: stream_exact_dedup(s, watermark="240 hours")
    )
    assert got.count() == 16
    assert got.select("event_id").distinct().count() == 16
    # the first arrival's payload wins: resent ids keep event_type 'a'
    assert (
        got.filter(F.col("event_id") < 10)
        .filter(F.col("event_type") != "a")
        .count()
        == 0
    )


def test_stream_sessionize_stitches_across_batches(spark):
    """A session straddling a micro-batch boundary must be stitched
    by state: batch 1 ends mid-session (events at t=0s, 600s), batch
    2 continues it (t=1200s — gap 600 < 1800) and then opens a new
    session (t=5000s). Final snapshots must show ONE 3-event session
    plus the new 1-event session."""
    from json_ld_spark.streaming.stream_pipeline import stream_sessionize

    us = 1_000_000
    rows_b1 = [
        (7, 1, 0 * us, 1.0),
        (7, 2, 600 * us, 2.0),
        (9, 3, 100 * us, 5.0),
    ]
    rows_b2 = [
        (7, 4, 1200 * us, 4.0),   # continues user 7's session
        (7, 5, 5000 * us, 8.0),   # gap 3800s > 1800s: new session
    ]
    schema = "user_id long, event_id long, epoch long, value double"
    parts = [
        spark.createDataFrame(rows, schema) for rows in (rows_b1, rows_b2)
    ]
    snaps = E._replay(spark, parts, stream_sessionize)
    got = {
        (r.user_id, r.session_idx): (
            r.n_events, r.start_epoch, r.end_epoch, r.vsum
        )
        for r in E._latest_snapshot(snaps, "user_id", "session_idx").collect()
    }
    assert got[(7, 0)] == (3, 0, 1200 * us, 7.0), got
    assert got[(7, 1)] == (1, 5000 * us, 5000 * us, 8.0), got
    assert got[(9, 0)] == (1, 100 * us, 100 * us, 5.0), got


def _one_row_parts(spark, n):
    return [
        spark.createDataFrame([(i, f"row{i}")], "id long, tag string")
        for i in range(n)
    ]


def test_replay_returns_every_part_row(spark):
    """The identity replay of three one-row parts returns exactly those
    three rows: one micro-batch per part, nothing lost or repeated."""
    got = E._replay(spark, _one_row_parts(spark, 3), lambda s: s)
    assert sorted(map(tuple, got.collect())) == [
        (0, "row0"), (1, "row1"), (2, "row2")
    ]


def test_replay_rejects_single_part(spark):
    """One part is one micro-batch: such a replay cannot show that
    batch boundaries do not matter, so the harness refuses it."""
    with pytest.raises(RuntimeError, match="micro-batch"):
        E._replay(spark, _one_row_parts(spark, 1), lambda s: s)


def test_replay_failure_leaves_no_staged_input(spark, tmp_path, monkeypatch):
    """A replay whose stream fails still removes its staged input and
    checkpoint dirs; nothing but the (partial) sink may survive."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def failing(stream):
        return stream.withColumn(
            "boom", F.raise_error(F.lit("planted")).cast("string")
        )

    with pytest.raises(Exception, match="planted"):
        E._replay(spark, _one_row_parts(spark, 2), failing)
    streams = tmp_path / "json_ld_spark_streams"
    (replay_dir,) = [d for pid in streams.iterdir() for d in pid.iterdir()]
    assert not (replay_dir / "in").exists()
    assert not (replay_dir / "ckpt").exists()
