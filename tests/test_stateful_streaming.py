"""Stateful streaming integration tests over a two-file JSONL stream read
one file per micro-batch: sessionization with the built-in
``session_window`` on a watermarked stream (``session_rollup``, the same
operator the batch ``sessionization`` query uses), and the state-v2
running-totals operator."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from social_media_sentiment_analysis_spark.operators.temporal import (
    session_rollup,
)

BASE = "2024-01-15T{}:00"


def _write(dirpath, name, rows):
    with open(dirpath / name, "w") as f:
        for uid, hhmm, v in rows:
            f.write(json.dumps(
                {"user_id": uid, "ts": BASE.format(hhmm), "value": v}) + "\n")


# batch 1: u1 has two events 10 min apart; u2 one event. batch 2's far-future
# event advances the watermark (12:00 - 10 min = 11:50) past batch 1's session
# ends (10:40, 10:35), so those emit; u3's session is still open (no later
# watermark) and is not emitted.
TWO_BATCHES = ([(1, "10:00", 1.0), (1, "10:10", 2.0), (2, "10:05", 5.0)],
               [(3, "12:00", 9.0)])
GAP_MIN, DELAY_MIN = 30, 10


def _stream_sessions(spark, tmp_path, first, second):
    """Run session_rollup on the watermarked two-file stream (append mode)
    and return its rows as sorted tuples (user_id, n_events, total_value,
    session_start, session_end), where session_end = last event + gap."""
    src = tmp_path / "in"
    src.mkdir()
    _write(src, "a.jsonl", first)
    _write(src, "b.jsonl", second)
    # deterministic batch order: the file source orders by modification time
    os.utime(src / "a.jsonl", (1_000_000, 1_000_000))
    os.utime(src / "b.jsonl", (2_000_000, 2_000_000))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withWatermark("ts", f"{DELAY_MIN} minutes")
    )
    sessions = session_rollup(
        stream, "user_id", "ts", f"{GAP_MIN} minutes",
        [F.count(F.lit(1)).alias("n_events"),
         F.sum("value").alias("total_value")])
    name = "sess_" + uuid.uuid4().hex[:8]
    q = (
        sessions.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return sorted((r.user_id, r.n_events, r.total_value,
                   r.session_start.strftime("%H:%M"),
                   r.session_end.strftime("%H:%M"))
                  for r in spark.table(name).collect())


def test_streaming_sessionize_two_batches(spark, tmp_path):
    """Exactly the closed sessions are emitted, once each."""
    assert _stream_sessions(spark, tmp_path, *TWO_BATCHES) == [
        (1, 2, 3.0, "10:00", "10:40"), (2, 1, 5.0, "10:05", "10:35")]


def test_streaming_sessionize_late_batch_emits_immediately(spark, tmp_path):
    """Reversed arrival: the future event lands first and u1's events come
    in the later batch, behind the watermark; u1's session is still
    emitted, not dropped, and u3's open session is not."""
    rows = _stream_sessions(spark, tmp_path, [(3, "12:00", 9.0)],
                            [(1, "10:00", 1.0), (1, "10:10", 2.0)])
    assert rows == [(1, 2, 3.0, "10:00", "10:40")]


def _reference_sessions(events):
    """Plain-Python gap-merge sessionizer: per user, an event joins the
    current session while it is < gap after the previous one; a session is
    emitted once the final watermark (max ts - delay) reaches its end."""
    def minutes(hhmm):
        h, m = hhmm.split(":")
        return int(h) * 60 + int(m)

    watermark = max(minutes(t) for _, t, _ in events) - DELAY_MIN
    out = []
    for uid in sorted({u for u, _, _ in events}):
        mine = sorted((minutes(t), v) for u, t, v in events if u == uid)
        sessions = [[mine[0]]]
        for ev in mine[1:]:
            if ev[0] < sessions[-1][-1][0] + GAP_MIN:
                sessions[-1].append(ev)
            else:
                sessions.append([ev])
        for sess in sessions:
            end = sess[-1][0] + GAP_MIN
            if end <= watermark:
                out.append((uid, len(sess), sum(v for _, v in sess),
                            f"{sess[0][0] // 60:02d}:{sess[0][0] % 60:02d}",
                            f"{end // 60:02d}:{end % 60:02d}"))
    return sorted(out)


def test_builtin_session_window_matches_custom_sessionizer(spark, tmp_path):
    """The built-in session_window on the stream emits the same sessions
    (key, count, total, span) as a hand-written gap-merge sessionizer over
    the same two-batch fixture and watermark."""
    first, second = TWO_BATCHES
    expected = _reference_sessions(first + second)
    assert [r[0] for r in expected] == [1, 2]
    assert _stream_sessions(spark, tmp_path, first, second) == expected


def test_running_totals_state_v2(spark, tmp_path):
    """transformWithStateInPandas: running per-user totals accumulate
    across micro-batches through RocksDB ValueState.

    The state-v2 driver worker speaks protobuf to the JVM; skip where
    protobuf isn't installed (the operator itself has no import-time dep).
    """
    pytest.importorskip("google.protobuf")
    from social_media_sentiment_analysis_spark.streaming.stateful import (
        running_totals_stream,
    )

    src = tmp_path / "rt_in"
    src.mkdir()
    _write(src, "a.jsonl", [(1, "10:00", 1.0), (1, "10:01", 2.0),
                            (2, "10:00", 5.0)])
    _write(src, "b.jsonl", [(1, "10:02", 4.0)])
    os.utime(src / "a.jsonl", (1_000_000, 1_000_000))
    os.utime(src / "b.jsonl", (2_000_000, 2_000_000))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select("user_id", "value")
    )
    name = "rt_" + uuid.uuid4().hex[:8]
    q = (
        running_totals_stream(stream)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "rt_ckpt"))
        .outputMode("append").trigger(availableNow=True)
        .option("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider")
        .start()
    )
    q.awaitTermination(180)
    rows = sorted(
        ((r.user_id, r.n_events, r.total_value)
         for r in spark.table(name).collect()))
    # batch 1 emits (1,2,3.0),(2,1,5.0); batch 2 re-emits user 1 as (3,7.0)
    assert (1, 3, 7.0) in rows
    assert (2, 1, 5.0) in rows
    assert (1, 2, 3.0) in rows
