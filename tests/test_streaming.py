"""Streaming-layer integration tests (file source, availableNow trigger — no
live Kafka needed, per SURVEY §5/§7.2 step 6).

Covers: envelope parse + flatten (P1), filters (P2/P3), shared enrichment
pipeline on a stream (U4), watermarked dedup (D1), tumbling hourly rollup
(A3), hour-partitioned JSONL sink (S5-intent), and replay-idempotent keyed
parquet sink (S6/D2 exactly-once effect).
"""

from __future__ import annotations

import json
import os
import uuid

import pytest

from social_media_sentiment_analysis_spark.streaming import (
    enrich_tweet_stream,
    flatten_envelope,
    hourly_rollup_stream,
    idempotent_parquet_sink,
    jsonl_sink,
    read_tweet_file_stream,
    run_available_now,
)
from social_media_sentiment_analysis_spark.functions.sentiment import sentiment_enrich

# epoch millis anchors: 2024-01-15 10:00:00 UTC and 11:00:00 UTC
H10 = 1705312800000
H11 = 1705316400000


def _envelope(tid, text, lang="en", ts=H10, likes=5, retweets=2):
    return {
        "data": {
            "id": tid,
            "text": text,
            "created_at": "2024-01-15T10:00:00Z",
            "author_id": f"author_{tid}",
            "lang": lang,
            "public_metrics": {
                "retweet_count": retweets,
                "like_count": likes,
                "reply_count": 1,
                "quote_count": 0,
            },
        },
        "includes": {
            "users": [
                {"id": f"author_{tid}", "name": "N", "username": "u",
                 "public_metrics": {"followers_count": 10}}
            ]
        },
        "kafka_timestamp": ts,
    }


ENVELOPES = [
    _envelope("t1", "RT @alice this launch is fast   big fast", ts=H10),
    _envelope("t1", "RT @alice this launch is fast   big fast", ts=H10),  # dup
    _envelope("t2", "slow small slow experience", ts=H10),
    _envelope("t3", "the sky is blue today", ts=H11),
    _envelope("t4", "no hablo ingles", lang="es", ts=H11),                # P2 drop
    _envelope("t5", "   ", ts=H11),                                       # P3 drop
]


@pytest.fixture(scope="module")
def stream_input(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    with open(d / "batch0.jsonl", "w") as f:
        for e in ENVELOPES:
            f.write(json.dumps(e) + "\n")
    return str(d)


def _mem_query(df, name, mode="append"):
    return (
        df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(availableNow=True).start()
    )


def test_enrich_stream_dedup_and_filters(spark, stream_input):
    stream = read_tweet_file_stream(spark, stream_input)
    assert stream.isStreaming
    enriched = enrich_tweet_stream(stream)
    name = "enriched_" + uuid.uuid4().hex[:8]
    q = _mem_query(enriched, name)
    q.awaitTermination()
    rows = {r.tweet_id: r for r in spark.table(name).collect()}
    # t1 deduped to one row; t4 (lang) and t5 (empty) filtered out
    assert sorted(rows) == ["t1", "t2", "t3"]
    # F1 removes the literal "RT @" (not the handle) and collapses whitespace
    assert rows["t1"].cleaned_text == "alice this launch is fast big fast"
    assert rows["t1"].final_sentiment == "positive"
    assert rows["t2"].final_sentiment == "negative"
    assert rows["t3"].final_sentiment == "neutral"
    assert rows["t1"].like_count == 5 and rows["t1"].retweet_count == 2


def test_hourly_rollup_stream(spark, stream_input):
    stream = read_tweet_file_stream(spark, stream_input)
    flat = flatten_envelope(stream).filter("language = 'en'")
    enriched = sentiment_enrich(flat, text_col="tweet_text").filter(
        "trim(cleaned_text) != ''"
    )
    rollup = hourly_rollup_stream(enriched)
    name = "rollup_" + uuid.uuid4().hex[:8]
    q = _mem_query(rollup, name, mode="complete")
    q.awaitTermination()
    got = {(r.date_hour.hour, r.sentiment): r for r in spark.table(name).collect()}
    # hour 10: t1+dup(positive ×2), t2(negative); hour 11: t3(neutral)
    assert got[(10, "positive")].tweet_count == 2
    assert got[(10, "positive")].total_likes == 10
    assert got[(10, "negative")].tweet_count == 1
    assert got[(11, "neutral")].tweet_count == 1


def test_jsonl_sink_hour_partitions(spark, stream_input, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = read_tweet_file_stream(spark, stream_input)
    enriched = enrich_tweet_stream(stream)
    run_available_now(jsonl_sink(enriched, out, ckpt))
    parts = sorted(p for p in os.listdir(out) if p.startswith("hour="))
    assert parts == ["hour=20240115_10", "hour=20240115_11"]
    back = spark.read.json(out)
    assert back.count() == 3


def test_parse_envelopes_rejects_bad_records(spark):
    from social_media_sentiment_analysis_spark.streaming import parse_envelopes

    raw = spark.createDataFrame(
        [(json.dumps(_envelope("ok1", "fine tweet")),),
         ("{not json at all",),                       # malformed
         (json.dumps({"data": {"text": "no id"}}),),  # missing tweet id
         (json.dumps(_envelope("ok2", "also fine")),)],
        "value string")
    good, rejects = parse_envelopes(raw)
    assert [r.id for r in good.select("data.id").collect()] == ["ok1", "ok2"]
    bad = [r.raw for r in rejects.collect()]
    assert len(bad) == 2 and "{not json at all" in bad  # raw payload kept


def test_idempotent_sink_replay(spark, stream_input, tmp_path):
    out = str(tmp_path / "tweets_tbl")
    stream = read_tweet_file_stream(spark, stream_input)
    enriched = enrich_tweet_stream(stream)
    run_available_now(
        idempotent_parquet_sink(enriched, out, str(tmp_path / "ck1")))
    assert spark.read.parquet(out).count() == 3
    # replay the same input through a fresh checkpoint (simulates source
    # replay after checkpoint loss) — keyed anti-join keeps the table stable
    run_available_now(
        idempotent_parquet_sink(enriched, out, str(tmp_path / "ck2")))
    df = spark.read.parquet(out)
    assert df.count() == 3
    assert df.select("tweet_id").distinct().count() == 3


def test_stream_interval_join(spark, tmp_path_factory):
    """Stream-stream join: engagement updates within 30 min of the tweet
    match; later updates are excluded by the range predicate."""
    from social_media_sentiment_analysis_spark.streaming.pipeline import (
        stream_interval_join,
    )

    tweets_dir = tmp_path_factory.mktemp("ssj_tweets")
    eng_dir = tmp_path_factory.mktemp("ssj_eng")
    with open(tweets_dir / "t.jsonl", "w") as f:
        f.write(json.dumps({"tweet_id": "t1",
                            "event_time": "2024-01-15T10:00:00"}) + "\n")
        f.write(json.dumps({"tweet_id": "t2",
                            "event_time": "2024-01-15T10:05:00"}) + "\n")
    with open(eng_dir / "e.jsonl", "w") as f:
        for tid, ts, delta in [
            ("t1", "2024-01-15T10:10:00", 3),   # in window
            ("t1", "2024-01-15T11:30:00", 9),   # past 30 min → excluded
            ("t2", "2024-01-15T10:05:00", 1),   # boundary: equal ts matches
            ("t9", "2024-01-15T10:10:00", 7),   # no matching tweet
        ]:
            f.write(json.dumps({"e_tweet_id": tid, "engagement_time": ts,
                                "like_delta": delta}) + "\n")

    tweets = (spark.readStream
              .schema("tweet_id string, event_time timestamp")
              .json(str(tweets_dir)))
    eng = (spark.readStream
           .schema("e_tweet_id string, engagement_time timestamp, "
                   "like_delta long")
           .json(str(eng_dir)))
    joined = stream_interval_join(
        tweets, eng, key="tweet_id", right_key="e_tweet_id",
        left_ts="event_time", right_ts="engagement_time",
        within="30 minutes")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = _mem_query(joined.select("tweet_id", "like_delta"), name)
    q.awaitTermination(120)
    rows = {(r.tweet_id, r.like_delta)
            for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert rows == {("t1", 3), ("t2", 1)}


def test_stream_interval_join_left_outer_emits_timeouts(
        spark, tmp_path_factory):
    """Left-outer stream-stream join: tweets with no engagement inside the
    30-min window are emitted with NULL deltas once the right watermark
    passes their window end. Right side is fed one file per micro-batch so
    the watermark actually advances across batches (eviction/null emission
    happens one batch behind the data that moved the watermark)."""
    from social_media_sentiment_analysis_spark.streaming.pipeline import (
        stream_interval_join,
    )

    tweets_dir = tmp_path_factory.mktemp("ssjo_tweets")
    eng_dir = tmp_path_factory.mktemp("ssjo_eng")
    with open(tweets_dir / "t0.jsonl", "w") as f:
        f.write(json.dumps({"tweet_id": "t1",
                            "event_time": "2024-01-15T10:00:00"}) + "\n")
        f.write(json.dumps({"tweet_id": "t2",
                            "event_time": "2024-01-15T10:05:00"}) + "\n")
    # the GLOBAL watermark is min(left wm, right wm), so BOTH sides need
    # later data or eviction never triggers — the left gets a late tweet
    # (itself unmatched, but the query ends before its own timeout).
    with open(tweets_dir / "t1.jsonl", "w") as f:
        f.write(json.dumps({"tweet_id": "t3",
                            "event_time": "2024-01-15T21:00:00"}) + "\n")
    # file names order the batches: batch0 has the only real match, batch1
    # advances both watermarks far past t2's window end, batch2 gives
    # the join a batch in which to emit the timed-out t2 with NULLs.
    with open(eng_dir / "e0.jsonl", "w") as f:
        f.write(json.dumps({"e_tweet_id": "t1",
                            "engagement_time": "2024-01-15T10:10:00",
                            "like_delta": 3}) + "\n")
    with open(eng_dir / "e1.jsonl", "w") as f:
        f.write(json.dumps({"e_tweet_id": "t9",
                            "engagement_time": "2024-01-15T20:00:00",
                            "like_delta": 1}) + "\n")
    with open(eng_dir / "e2.jsonl", "w") as f:
        f.write(json.dumps({"e_tweet_id": "t9",
                            "engagement_time": "2024-01-15T21:00:00",
                            "like_delta": 1}) + "\n")

    tweets = (spark.readStream
              .schema("tweet_id string, event_time timestamp")
              .option("maxFilesPerTrigger", 1)
              .json(str(tweets_dir)))
    eng = (spark.readStream
           .schema("e_tweet_id string, engagement_time timestamp, "
                   "like_delta long")
           .option("maxFilesPerTrigger", 1)
           .json(str(eng_dir)))
    joined = stream_interval_join(
        tweets, eng, key="tweet_id", right_key="e_tweet_id",
        left_ts="event_time", right_ts="engagement_time",
        within="30 minutes", how="left_outer")
    name = f"ssjo_{uuid.uuid4().hex[:8]}"
    q = _mem_query(joined.select("tweet_id", "like_delta"), name)
    q.awaitTermination(120)
    rows = {(r.tweet_id, r.like_delta)
            for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert ("t1", 3) in rows          # matched inside the window
    assert ("t2", None) in rows       # timed out → NULL-padded outer row


def test_stream_static_dim_join(spark, tmp_path_factory):
    """Stream-static enrichment: dim rows match by key; stream rows without
    a dim row survive with nulls (left join), and no state store is used."""
    from social_media_sentiment_analysis_spark.streaming.pipeline import (
        enrich_with_dim,
    )

    d = tmp_path_factory.mktemp("ssd")
    with open(d / "s.jsonl", "w") as f:
        f.write(json.dumps({"user_id": 1, "v": 10}) + "\n")
        f.write(json.dumps({"user_id": 2, "v": 20}) + "\n")
        f.write(json.dumps({"user_id": 9, "v": 90}) + "\n")
    dim = spark.createDataFrame(
        [(1, "GOLD"), (2, "SILVER")], "c_id long, tier string")
    stream = (spark.readStream.schema("user_id long, v long")
              .json(str(d)))
    joined = enrich_with_dim(stream, dim, stream_key="user_id",
                             dim_key="c_id")
    name = f"ssd_{uuid.uuid4().hex[:8]}"
    q = _mem_query(joined.select("user_id", "v", "tier"), name)
    q.awaitTermination(120)
    rows = {(r.user_id, r.tier) for r in spark.table(name).collect()}
    assert rows == {(1, "GOLD"), (2, "SILVER"), (9, None)}
    assert q.lastProgress is None or not q.lastProgress.get("stateOperators")


def test_streaming_curation_dedups_content_across_batches(
        spark, tmp_path_factory):
    """curate_doc_stream: a re-ingested document (same text, new doc_id, in
    a later micro-batch) produces no chunks; short and non-English docs are
    gated out; long docs chunk into 50-token windows."""
    import os as _os

    from social_media_sentiment_analysis_spark.streaming.curation import (
        curate_doc_stream,
    )

    d = tmp_path_factory.mktemp("cur_in")
    long_text = " ".join(f"tok{i}" for i in range(120))   # 120 toks → 3 chunks
    rows_b1 = [
        {"doc_id": 1, "text": long_text, "lang": "en", "source": "web",
         "ts": "2024-01-15T10:00:00"},
        {"doc_id": 2, "text": "too short", "lang": "en", "source": "web",
         "ts": "2024-01-15T10:00:00"},
        {"doc_id": 3, "text": long_text, "lang": "fr", "source": "web",
         "ts": "2024-01-15T10:00:00"},
    ]
    rows_b2 = [   # same content as doc 1, new id, later batch → deduped
        {"doc_id": 9, "text": long_text, "lang": "en", "source": "crawl",
         "ts": "2024-01-15T10:30:00"},
    ]
    with open(d / "b1.jsonl", "w") as f:
        for r in rows_b1:
            f.write(json.dumps(r) + "\n")
    with open(d / "b2.jsonl", "w") as f:
        for r in rows_b2:
            f.write(json.dumps(r) + "\n")
    _os.utime(d / "b1.jsonl", (1_000_000, 1_000_000))
    _os.utime(d / "b2.jsonl", (2_000_000, 2_000_000))

    stream = (
        spark.readStream
        .schema("doc_id long, text string, lang string, source string, "
                "ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    name = f"cur_{uuid.uuid4().hex[:8]}"
    q = _mem_query(curate_doc_stream(stream), name)
    q.awaitTermination(120)
    out = spark.table(name).collect()
    assert {r.doc_id for r in out} == {1}
    assert sorted((r.chunk_id, r.chunk_tokens) for r in out) == [
        (0, 50), (1, 50), (2, 20)]


def test_upsert_sink_update_mode_rollup(spark, tmp_path_factory):
    """upsert_parquet_sink: an update-mode aggregate stream keeps exactly
    one latest row per key as later batches revise earlier groups."""
    import os as _os

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        upsert_parquet_sink,
    )
    from pyspark.sql import functions as F

    d = tmp_path_factory.mktemp("ups_in")
    with open(d / "b1.jsonl", "w") as f:
        f.write(json.dumps({"k": "a", "v": 1,
                            "ts": "2024-01-15T10:00:00"}) + "\n")
        f.write(json.dumps({"k": "b", "v": 5,
                            "ts": "2024-01-15T10:01:00"}) + "\n")
    with open(d / "b2.jsonl", "w") as f:      # revises group 'a'
        f.write(json.dumps({"k": "a", "v": 3,
                            "ts": "2024-01-15T10:02:00"}) + "\n")
    _os.utime(d / "b1.jsonl", (1_000_000, 1_000_000))
    _os.utime(d / "b2.jsonl", (2_000_000, 2_000_000))

    stream = (spark.readStream.schema("k string, v long, ts timestamp")
              .option("maxFilesPerTrigger", 1).json(str(d)))
    agg = stream.groupBy("k").agg(F.sum("v").alias("total"))
    out = str(tmp_path_factory.mktemp("ups_out") / "t")
    ckpt = str(tmp_path_factory.mktemp("ups_ck") / "c")
    q = (upsert_parquet_sink(agg, out, ckpt, keys=["k"])
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {r.k: r.total for r in spark.read.parquet(out).collect()}
    assert rows == {"a": 4, "b": 5}   # a revised to 1+3, one row per key


def test_upsert_sink_recovers_displaced_state_after_crashed_swap(
        spark, tmp_path_factory):
    """A swap that crashed between displacing the target and renaming the
    staging dir in leaves the committed table at {path}.old-*; the next
    upsert must adopt it instead of treating the replay as a first build
    (which would silently drop every previously accumulated key)."""
    import os as _os
    import shutil as _shutil

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        upsert_parquet_sink,
    )
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("ups2_out") / "t")
    # committed prior state — but displaced, as a crashed swap leaves it
    spark.createDataFrame([("old", 7)], "k string, total long") \
        .write.parquet(f"{out}.old-deadbeef")
    assert not _os.path.exists(out)

    d = tmp_path_factory.mktemp("ups2_in")
    with open(d / "b1.jsonl", "w") as f:
        f.write(json.dumps({"k": "new", "v": 2,
                            "ts": "2024-01-15T10:00:00"}) + "\n")
    stream = (spark.readStream.schema("k string, v long, ts timestamp")
              .json(str(d)))
    agg = stream.groupBy("k").agg(F.sum("v").alias("total"))
    ckpt = str(tmp_path_factory.mktemp("ups2_ck") / "c")
    q = (upsert_parquet_sink(agg, out, ckpt, keys=["k"])
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = {r.k: r.total for r in spark.read.parquet(out).collect()}
    assert rows == {"old": 7, "new": 2}   # displaced state survived
    # the completed swap also GC'd the orphan and left no staging dir
    parent = _os.path.dirname(out)
    assert not [n for n in _os.listdir(parent)
                if ".old-" in n or ".staging-" in n]
    _shutil.rmtree(ckpt, ignore_errors=True)


@pytest.mark.parametrize("caller", [
    "compact_parquet", "compact_store", "compact_flag_store",
    "compact_reservoir_sample", "write_validated"])
def test_swap_callers_recover_displaced_state_after_crashed_swap(
        spark, tmp_path, caller):
    """Every staged-swap caller shares the upsert sink's crash recovery:
    a swap that crashed between its two renames leaves the committed
    table only at ``{path}.old-<tag>``; the next call restores it,
    completes, and leaves no ``.old-*`` or ``.staging-*`` sibling."""
    import os as _os

    from pyspark.sql import functions as F

    from social_media_sentiment_analysis_spark.sources.layout import (
        compact_parquet, compact_store, replace_store_partition,
        write_validated,
    )
    from social_media_sentiment_analysis_spark.streaming.sinks import (
        compact_flag_store, compact_reservoir_sample,
    )

    out = str(tmp_path / "t")
    displaced = f"{out}.old-deadbeef"
    rows = spark.createDataFrame(
        [(i, f"h{i}", i % 3) for i in range(9)],
        "doc_id long, __h string, batch_id int")
    if caller == "compact_store":
        for b in range(3):
            replace_store_partition(
                spark, rows.filter(F.col("batch_id") == b).drop("batch_id"),
                out, b, "doc_id")
        _os.rename(out, displaced)
    else:
        rows.write.partitionBy("batch_id").parquet(displaced)
    assert not _os.path.exists(out)

    if caller == "compact_parquet":
        compact_parquet(spark, out)
    elif caller == "compact_store":
        assert compact_store(spark, out, "doc_id", upto_batch_id=2) == (3, 2)
    elif caller == "compact_flag_store":
        assert compact_flag_store(spark, out, upto_batch_id=2) == (3, 2)
    elif caller == "compact_reservoir_sample":
        assert compact_reservoir_sample(spark, out, upto_batch_id=2) == (3, 2)
    else:
        # a rejected write restores the committed table and keeps it
        with pytest.raises(ValueError, match="non_negative_id"):
            write_validated(rows.withColumn("doc_id", -F.col("doc_id") - 1),
                            out, {"non_negative_id": F.col("doc_id") >= 0})
        assert spark.read.parquet(out).count() == 9
        write_validated(rows.filter(F.col("batch_id") == 0).drop("batch_id"),
                        out, {"non_negative_id": F.col("doc_id") >= 0})
        rows = rows.filter(F.col("batch_id") == 0)

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == sorted(r.doc_id for r in rows.collect())
    assert not [n for n in _os.listdir(tmp_path)
                if ".old-" in n or ".staging-" in n]


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path_factory):
    """Stopping and restarting a query on the same checkpoint resumes from
    recorded offsets: already-ingested files are NOT re-emitted, even into
    a plain append sink (offset durability, independent of sink dedup)."""
    src = tmp_path_factory.mktemp("ckr_in")
    out = str(tmp_path_factory.mktemp("ckr_out") / "t")
    ckpt = str(tmp_path_factory.mktemp("ckr_ck") / "c")

    def run_once():
        q = (spark.readStream.schema("x long").json(str(src))
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    with open(src / "a.jsonl", "w") as f:
        f.write(json.dumps({"x": 1}) + "\n")
    run_once()
    with open(src / "b.jsonl", "w") as f:
        f.write(json.dumps({"x": 2}) + "\n")
    run_once()   # restart from the same checkpoint

    vals = sorted(r.x for r in spark.read.parquet(out).collect())
    assert vals == [1, 2]   # file a ingested exactly once across restarts


def test_full_dataflow_end_to_end(spark, stream_input, tmp_path):
    """SURVEY §3.2 composed in one run: one enriched stream fanned out to
    the JSONL file sink, the idempotent keyed store, and the hourly rollup
    — the reference's whole streamer+service dataflow as three concurrent
    availableNow queries over a shared plan."""
    import pyspark.sql.functions as F

    stream = read_tweet_file_stream(spark, stream_input)
    enriched = enrich_tweet_stream(stream)

    jsonl_out = str(tmp_path / "jsonl")
    store_out = str(tmp_path / "store")
    run_available_now(jsonl_sink(enriched, jsonl_out,
                                 str(tmp_path / "ck_jsonl")))
    run_available_now(idempotent_parquet_sink(enriched, store_out,
                                              str(tmp_path / "ck_store")))
    rollup = hourly_rollup_stream(enrich_tweet_stream(
        read_tweet_file_stream(spark, stream_input)))
    name = "e2e_rollup_" + uuid.uuid4().hex[:8]
    q3 = (rollup.writeStream.format("memory").queryName(name)
          .outputMode("complete").trigger(availableNow=True).start())
    q3.awaitTermination()

    stored = spark.read.parquet(store_out)
    assert stored.count() == 3  # deduped + filtered
    assert spark.read.json(jsonl_out).count() == 3
    roll = {(r.date_hour.hour, r.sentiment): r.tweet_count
            for r in spark.table(name).collect()}
    # dedup upstream of the rollup: t1's duplicate envelope counts once
    assert roll[(10, "positive")] == 1
    assert roll[(10, "negative")] == 1
    assert roll[(11, "neutral")] == 1
    # store contents agree with the batch facade's summary semantics
    by_sent = {r.final_sentiment: r.n for r in stored.groupBy(
        "final_sentiment").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_sent == {"positive": 1, "negative": 1, "neutral": 1}


def test_trending_words_stream(spark, stream_input):
    from social_media_sentiment_analysis_spark.streaming import (
        trending_words_stream,
    )

    stream = read_tweet_file_stream(spark, stream_input)
    enriched = enrich_tweet_stream(stream)
    trending = trending_words_stream(enriched)
    name = "trend_" + uuid.uuid4().hex[:8]
    q = _mem_query(trending, name, mode="complete")
    q.awaitTermination()
    rows = spark.table(name).collect()
    assert rows, "windowed word counts must arrive"
    # every count is per (hour, word); both fixture hours appear
    hours = {r.date_hour.hour for r in rows}
    assert hours == {10, 11}
    # the dedup upstream means the duplicated tweet counts once: no word
    # appears more often than the number of distinct tweets in its hour
    for r in rows:
        assert 1 <= r.n <= 3
        assert len(r.word) >= 3


def test_fanout_sink_writes_both_and_replays_idempotently(
        spark, stream_input, tmp_path):
    from social_media_sentiment_analysis_spark.streaming import fanout_sink

    jsonl, table = str(tmp_path / "jsonl"), str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    stream = read_tweet_file_stream(spark, stream_input)
    enriched = enrich_tweet_stream(stream)
    run_available_now(fanout_sink(enriched, jsonl, table, ckpt))
    jl = spark.read.json(jsonl)
    tb = spark.read.parquet(table)
    assert jl.count() == tb.count() == 3
    assert sorted(p for p in os.listdir(jsonl) if p.startswith("hour=")) \
        == ["hour=20240115_10", "hour=20240115_11"]
    # replay with a FRESH checkpoint: the JSONL archive appends (raw log),
    # but the keyed store stays deduplicated
    run_available_now(fanout_sink(
        enriched, jsonl, table, str(tmp_path / "ckpt2")))
    assert spark.read.parquet(table).count() == 3
    assert spark.read.json(jsonl).count() == 6


def test_cms_sink_incremental_and_replay_idempotent(spark, tmp_path):
    """Two micro-batches build per-batch sketch partitions; the collapsed
    sketch must equal a single batch build over all data, and re-writing a
    batch's partition (replay) must not change the result."""
    import os as _os

    from social_media_sentiment_analysis_spark.operators.cms import cms_build
    from social_media_sentiment_analysis_spark.streaming import (
        cms_sink, read_cms,
    )
    from social_media_sentiment_analysis_spark.streaming.sinks import (
        _write_batch_sketch,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"w": "spark"}\n{"w": "join"}\n{"w": "spark"}\n')
    (src / "b.jsonl").write_text(
        '{"w": "spark"}\n{"w": "scan"}\n')
    _os.utime(src / "a.jsonl", (1_000_000, 1_000_000))
    _os.utime(src / "b.jsonl", (2_000_000, 2_000_000))

    out, ckpt = str(tmp_path / "sketch"), str(tmp_path / "ckpt")
    stream = (spark.readStream.schema("w string")
              .option("maxFilesPerTrigger", 1).json(str(src)))
    q = (cms_sink(stream, "w", out, ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    def cells(df):
        return {(r.row, r.bucket): r.cnt for r in df.collect()}

    whole = spark.read.schema("w string").json(str(src))
    expected = cells(cms_build(whole, "w"))
    assert cells(read_cms(spark, out)) == expected

    # replay batch 1 (overwrite its partition) — unchanged
    batch1 = spark.read.schema("w string").json(str(src / "b.jsonl"))
    _write_batch_sketch(batch1, 1, "w", out, 4, 1024)
    assert cells(read_cms(spark, out)) == expected


def test_cms_sink_replay_after_checkpoint_loss_sweeps_stale_batches(
        spark, tmp_path):
    """A checkpoint-loss replay that re-batches differently: the first
    drain writes a.jsonl as batch 0 and b.jsonl as batch 1; the replay
    from an empty checkpoint reads both files into batch 0. Its write must
    sweep the stale batch_id=1 partition, or ``read_cms`` sums b.jsonl's
    sketch twice ("spark" would read 16 across the 4 rows, not 12)."""
    import os as _os

    from social_media_sentiment_analysis_spark.operators.cms import cms_build
    from social_media_sentiment_analysis_spark.streaming import (
        cms_sink, read_cms,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"w": "spark"}\n{"w": "join"}\n{"w": "spark"}\n')
    (src / "b.jsonl").write_text(
        '{"w": "spark"}\n{"w": "scan"}\n')
    _os.utime(src / "a.jsonl", (1_000_000, 1_000_000))
    _os.utime(src / "b.jsonl", (2_000_000, 2_000_000))
    out = str(tmp_path / "sketch")

    def drain(ckpt, files_per_trigger=None):
        reader = spark.readStream.schema("w string")
        if files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", files_per_trigger)
        run_available_now(cms_sink(reader.json(str(src)), "w", out,
                                   str(tmp_path / ckpt)))

    def cells(df):
        return {(r.row, r.bucket): r.cnt for r in df.collect()}

    expected = cells(cms_build(
        spark.read.schema("w string").json(str(src)), "w"))
    def batches():
        return sorted(d for d in _os.listdir(out) if d.startswith("batch_id="))

    drain("ckpt", files_per_trigger=1)
    assert batches() == ["batch_id=0", "batch_id=1"]
    assert cells(read_cms(spark, out)) == expected
    drain("ckpt_lost")              # same output, fresh checkpoint
    assert cells(read_cms(spark, out)) == expected
    assert batches() == ["batch_id=0"]


def test_quarantine_sink_routes_late_rows(spark, tmp_path):
    """Batch 1 sets the high watermark (12:00); batch 2's 10:00 event is
    later than (12:00 − 1h) behind it → quarantined with its lateness;
    its 11:30 event is within the delay → main sink."""
    import os as _os

    from social_media_sentiment_analysis_spark.streaming import (
        quarantine_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"user_id": 1, "ts": "2024-01-15T12:00:00", "value": 1.0}\n')
    (src / "b.jsonl").write_text(
        '{"user_id": 2, "ts": "2024-01-15T10:00:00", "value": 2.0}\n'
        '{"user_id": 3, "ts": "2024-01-15T11:30:00", "value": 3.0}\n')
    _os.utime(src / "a.jsonl", (1_000_000, 1_000_000))
    _os.utime(src / "b.jsonl", (2_000_000, 2_000_000))

    main, late = str(tmp_path / "main"), str(tmp_path / "late")
    stream = (spark.readStream.schema("user_id long, ts timestamp, value double")
              .option("maxFilesPerTrigger", 1).json(str(src)))
    q = (quarantine_sink(stream, main, late, str(tmp_path / "ckpt"),
                         ts_col="ts", delay="1 hour")
         .trigger(availableNow=True).start())
    q.awaitTermination()

    main_ids = sorted(r.user_id for r in spark.read.parquet(main).collect())
    assert main_ids == [1, 3]
    lates = spark.read.parquet(late).collect()
    assert [r.user_id for r in lates] == [2]
    assert lates[0].lateness_s == 2 * 3600


def test_checkpoint_restart_processes_only_new_data(spark, tmp_path):
    """Offset recovery: a second availableNow run on the SAME checkpoint
    must pick up exactly the files that arrived after the first run —
    no reprocessing (the sink would show duplicate ids), no loss."""
    import os as _os

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"user_id": 1, "ts": "2024-01-15T10:00:00", "value": 1.0}\n')
    _os.utime(src / "a.jsonl", (1_000_000, 1_000_000))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        stream = (spark.readStream
                  .schema("user_id long, ts timestamp, value double")
                  .json(str(src)))
        q = (stream.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    assert [r.user_id for r in spark.read.parquet(out).collect()] == [1]

    (src / "b.jsonl").write_text(
        '{"user_id": 2, "ts": "2024-01-15T11:00:00", "value": 2.0}\n')
    _os.utime(src / "b.jsonl", (2_000_000, 2_000_000))
    run_once()
    ids = sorted(r.user_id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2]   # user 1 exactly once — offsets recovered


def test_stream_and_batch_enrichment_agree(spark, stream_input):
    """The SAME Column pipeline runs in both modes; on identical input the
    streamed output must equal the batch output row-for-row — the
    batch/stream unification contract that makes backfills trustworthy."""
    from social_media_sentiment_analysis_spark.schemas import (
        TWEET_ENVELOPE_SCHEMA,
    )

    stream = read_tweet_file_stream(spark, stream_input)
    streamed = enrich_tweet_stream(stream)
    name = "unify_" + uuid.uuid4().hex[:8]
    q = _mem_query(streamed, name)
    q.awaitTermination()
    got_stream = {r.tweet_id: (r.cleaned_text, r.final_sentiment,
                               round(r.confidence_score, 9))
                  for r in spark.table(name).collect()}

    batch = spark.read.schema(TWEET_ENVELOPE_SCHEMA).json(stream_input)
    batched = enrich_tweet_stream(batch)   # same entry point, batch mode
    got_batch = {r.tweet_id: (r.cleaned_text, r.final_sentiment,
                              round(r.confidence_score, 9))
                 for r in batched.collect()}
    assert got_stream == got_batch


def test_near_dedup_sink_drops_edited_redeliveries(spark, tmp_path):
    """Streaming MinHash near-dup: a later micro-batch's lightly-EDITED
    copy of an earlier doc (different md5, same shingle mass) is dropped
    via the persisted band store; distinct docs survive; a stream restart
    on the same checkpoint keeps the store and drops a batch-3 near-dup
    of a batch-1 survivor."""
    import os as _os

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        near_dedup_sink, read_deduped_corpus,
    )

    base = ("the quick brown fox jumps over the lazy dog while the "
            "spark engine shuffles partitions across the cluster nodes")
    edited = base.replace("lazy", "sleepy")          # 1 word of 19 changed
    other = ("completely different text about stream processing windows "
             "watermarks and stateful aggregation semantics in pipelines")
    third = base.replace("quick", "rapid")           # near-dup of base again

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": base}) + "\n"
        + json.dumps({"doc_id": 2, "text": other}) + "\n")
    (src / "b.jsonl").write_text(
        json.dumps({"doc_id": 3, "text": edited}) + "\n"
        + json.dumps({"doc_id": 4, "text": "a fresh unrelated document "
                      "describing broadcast joins and adaptive execution "
                      "strategies for large scale analytics"}) + "\n")
    _os.utime(src / "a.jsonl", (1_000_000, 1_000_000))
    _os.utime(src / "b.jsonl", (2_000_000, 2_000_000))

    out, ckpt = str(tmp_path / "dedup"), str(tmp_path / "ckpt")

    def run():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = (near_dedup_sink(stream, out, ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    kept = {r.doc_id for r in read_deduped_corpus(spark, out).collect()}
    assert kept == {1, 2, 4}          # 3 dropped as near-dup of 1

    # restart on the same checkpoint: only the new file is processed, and
    # the persisted band store still catches a near-dup of doc 1
    (src / "c.jsonl").write_text(
        json.dumps({"doc_id": 5, "text": third}) + "\n")
    _os.utime(src / "c.jsonl", (3_000_000, 3_000_000))
    run()
    kept = {r.doc_id for r in read_deduped_corpus(spark, out).collect()}
    assert kept == {1, 2, 4}

    # full replay (checkpoint loss): batch partitions are dynamically
    # OVERWRITTEN, and the probe skips the batch's own partition, so the
    # corpus neither duplicates nor self-collides
    ckpt2 = str(tmp_path / "ckpt2")

    def rerun():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = (near_dedup_sink(stream, out, ckpt2)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    rerun()
    rows = read_deduped_corpus(spark, out).collect()
    assert {r.doc_id for r in rows} == {1, 2, 4}
    assert len(rows) == 3  # no duplicated rows after replay


def test_drift_sink_flags_shifted_batch(spark, tmp_path):
    """Streaming PSI monitor: a batch drawn from the reference
    distribution scores near zero; a shifted batch scores clearly higher
    (its mass clamps into the far edge bins of the reference histogram)."""
    import os as _os

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        drift_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    # batch 0 (becomes the reference) and batch 1: values 0..99
    (src / "a.jsonl").write_text(
        "\n".join(json.dumps({"v": float(i % 100)}) for i in range(400)))
    (src / "b.jsonl").write_text(
        "\n".join(json.dumps({"v": float(i % 100)}) for i in range(400)))
    # batch 2: shifted far right (300..349)
    (src / "c.jsonl").write_text(
        "\n".join(json.dumps({"v": 300.0 + i % 50}) for i in range(400)))
    for i, f in enumerate(["a.jsonl", "b.jsonl", "c.jsonl"]):
        _os.utime(src / f, (1_000_000 * (i + 1), 1_000_000 * (i + 1)))

    out, ckpt = str(tmp_path / "drift"), str(tmp_path / "ckpt")
    stream = (spark.readStream.schema("v double")
              .option("maxFilesPerTrigger", 1).json(str(src)))
    q = drift_sink(stream, "v", out, ckpt).trigger(availableNow=True).start()
    q.awaitTermination()

    psi = {r.batch_id: r.psi for r in
           spark.read.parquet(f"{out}/psi").collect()}
    assert len(psi) == 3
    assert psi[0] < 0.01           # reference vs itself
    assert psi[1] < 0.05           # same distribution
    assert psi[2] > 1.0            # hard shift → loud signal


def test_corrupt_state_store_fails_batch_not_silently_resets(spark, tmp_path):
    """A non-first-batch state-read failure must FAIL the stream, never be
    treated as 'nothing persisted': a corrupt band store that was silently
    skipped would let near-duplicates into the kept corpus with no error
    surfaced (and a corrupt keyed store would un-dedup the table)."""
    import pytest as _pytest

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        idempotent_parquet_sink, near_dedup_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        json.dumps({"doc_id": 1, "tweet_id": "t1",
                    "text": "some document text for the dedup store"}) + "\n")

    # near_dedup_sink: corrupt bands store → batch must raise
    out, ckpt = str(tmp_path / "dedup"), str(tmp_path / "ck1")
    bands = tmp_path / "dedup" / "bands"
    bands.mkdir(parents=True)
    (bands / "part-00000.parquet").write_bytes(b"NOT A PARQUET FILE")
    stream = (spark.readStream.schema("doc_id long, tweet_id string, "
                                      "text string").json(str(src)))
    q = near_dedup_sink(stream, out, ckpt).trigger(availableNow=True).start()
    with _pytest.raises(Exception):
        q.awaitTermination()

    # idempotent sink: corrupt target → batch must raise, target untouched
    tgt, ckpt2 = str(tmp_path / "store"), str(tmp_path / "ck2")
    (tmp_path / "store").mkdir()
    (tmp_path / "store" / "part-00000.parquet").write_bytes(b"GARBAGE")
    stream2 = (spark.readStream.schema("doc_id long, tweet_id string, "
                                       "text string").json(str(src)))
    q2 = (idempotent_parquet_sink(stream2, tgt, ckpt2)
          .trigger(availableNow=True).start())
    with _pytest.raises(Exception):
        q2.awaitTermination()


def test_winnow_containment_sink_flags_pasted_doc(spark, tmp_path):
    """Streaming winnowing containment (r5 verdict #5): a small doc pasted
    INSIDE a larger later doc is flagged across micro-batches (tiny
    Jaccard — the MinHash sink can't see it) and across a restart, via the
    persisted fingerprint store; a full checkpoint-loss replay neither
    duplicates nor self-collides flags."""
    import os as _os

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        read_containment_flags, winnow_containment_sink,
    )

    small = ("the quick brown fox jumps over the lazy dog while the "
             "spark engine shuffles partitions across the cluster nodes "
             "and the optimizer prunes columns from every parquet scan")
    chrome_a = ("navigation home products pricing about careers contact "
                "sign in register subscribe to our newsletter for updates "
                "follow us on social media channels every single day")
    chrome_b = ("copyright two thousand twenty six all rights reserved "
                "terms of service privacy policy cookie settings help "
                "center community forum documentation api reference pages")
    big = f"{chrome_a} {small} {chrome_b}"        # small doc pasted inside
    other = ("completely different text about watermarks and stateful "
             "aggregation semantics in structured streaming pipelines "
             "with checkpoint recovery and exactly once delivery rules")

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": small}) + "\n"
        + json.dumps({"doc_id": 2, "text": other}) + "\n")
    (src / "b.jsonl").write_text(
        json.dumps({"doc_id": 3, "text": big}) + "\n")
    _os.utime(src / "a.jsonl", (1_000_000, 1_000_000))
    _os.utime(src / "b.jsonl", (2_000_000, 2_000_000))

    out, ckpt = str(tmp_path / "contain"), str(tmp_path / "ckpt")

    def run(checkpoint):
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = (winnow_containment_sink(stream, out, checkpoint)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run(ckpt)
    flags = read_containment_flags(spark, out).collect()
    pairs = {(r.doc_a, r.doc_b) for r in flags}
    assert (1, 3) in pairs            # pasted copy caught across batches
    assert not any(r.doc_a == 2 or r.doc_b == 2 for r in flags)
    c13 = [r.containment for r in flags if (r.doc_a, r.doc_b) == (1, 3)]
    assert c13[0] >= 0.5              # the small side is ~fully contained

    # restart on the same checkpoint: the persisted store still catches a
    # doc that quotes batch-1's doc 2
    (src / "c.jsonl").write_text(
        json.dumps({"doc_id": 5, "text": f"{chrome_a} {other}"}) + "\n")
    _os.utime(src / "c.jsonl", (3_000_000, 3_000_000))
    run(ckpt)
    pairs = {(r.doc_a, r.doc_b)
             for r in read_containment_flags(spark, out).collect()}
    assert (1, 3) in pairs and (2, 5) in pairs

    # checkpoint-loss replay: batch partitions are dynamically overwritten
    # and the probe skips the batch's own partition — flags don't
    # duplicate, nothing matches itself
    run(str(tmp_path / "ckpt2"))
    rows = read_containment_flags(spark, out).collect()
    assert len(rows) == len({(r.doc_a, r.doc_b) for r in rows})
    assert {(r.doc_a, r.doc_b) for r in rows} >= {(1, 3), (2, 5)}
    assert not any(r.doc_a == r.doc_b for r in rows)


def test_containment_sink_seeded_from_batch_index(spark, sf_dir, tmp_path):
    """Batch->streaming handoff: seed the containment store from the
    persisted winnowing index, then stream ONE new doc quoting a corpus
    document — it must be flagged in its very first micro-batch, against
    the seed partition (batch_id=-1), with no corpus re-ingestion."""
    from social_media_sentiment_analysis_spark.queries.selection import (
        index_winnowing,
    )
    from social_media_sentiment_analysis_spark.sources.batch import (
        load_table,
    )
    from social_media_sentiment_analysis_spark.streaming.sinks import (
        read_containment_flags, seed_containment_store,
        winnow_containment_sink,
    )

    tables = index_winnowing(spark, sf_dir, prefix="t_seed_widx")
    try:
        out = str(tmp_path / "contain")
        seed_containment_store(spark, out, *tables)
        # pick a real corpus doc and paste its text into a larger new doc
        src_doc = (load_table(spark, sf_dir, "documents")
                   .filter("length(text) > 200")
                   .orderBy("doc_id").first())
        new_id = 10_000_000
        big = ("breaking news aggregator page header navigation links "
               f"{src_doc.text} footer copyright subscribe newsletter "
               "social media icons and related articles list")
        src = tmp_path / "in"
        src.mkdir()
        (src / "a.jsonl").write_text(
            json.dumps({"doc_id": new_id, "text": big}) + "\n")

        stream = (spark.readStream.schema("doc_id long, text string")
                  .json(str(src)))
        q = (winnow_containment_sink(stream, out, str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

        flags = read_containment_flags(spark, out).collect()
        assert any(r.doc_a == src_doc.doc_id and r.doc_b == new_id
                   and r.containment >= 0.5 for r in flags), flags
        # re-seeding is idempotent: same store, no duplicate seed rows
        seed_containment_store(spark, out, *tables)
        n1 = spark.read.parquet(f"{out}/fps").filter(
            "batch_id = -1").count()
        seed_containment_store(spark, out, *tables)
        n2 = spark.read.parquet(f"{out}/fps").filter(
            "batch_id = -1").count()
        assert n1 == n2 > 0
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_rewrite_dedup_sink_cuts_previously_seen_chunks(spark, tmp_path):
    """Streaming exact-substring REWRITE: a chunk re-pasted in a later
    micro-batch is cut from the later doc (the doc itself survives,
    reassembled from its fresh chunks); a within-batch repeat loses to the
    lower (id, chunk_id); a restart on the same checkpoint keeps the
    fingerprint store; a full replay is byte-identical (dynamic partition
    overwrite + own-partition exclusion)."""
    import os as _os

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        read_rewritten_corpus, rewrite_dedup_sink,
    )

    c1 = "alpha beta gamma delta epsilon zeta"          # chunk A (6 tokens)
    c2 = "one two three four five six"                  # chunk B
    c3 = "red orange yellow green blue indigo"          # chunk C
    c4 = "mercury venus earth mars jupiter saturn"      # chunk D
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": f"{c1} {c2}"}) + "\n"
        + json.dumps({"doc_id": 2, "text": c3}) + "\n")
    # doc 3 re-pastes chunk A and adds fresh chunk D; doc 4 repeats D
    # in the same batch (loses to doc 3's earlier occurrence)
    (src / "b.jsonl").write_text(
        json.dumps({"doc_id": 3, "text": f"{c1} {c4}"}) + "\n"
        + json.dumps({"doc_id": 4, "text": c4}) + "\n")
    _os.utime(src / "a.jsonl", (1_000_000, 1_000_000))
    _os.utime(src / "b.jsonl", (2_000_000, 2_000_000))

    out, ckpt = str(tmp_path / "rw"), str(tmp_path / "ckpt")

    def run(ck):
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = (rewrite_dedup_sink(stream, out, ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run(ckpt)
    rows = {r.doc_id: r for r in read_rewritten_corpus(spark, out).collect()}
    assert rows[1].cleaned_text == f"{c1} {c2}" and rows[1].n_kept == 2
    assert rows[2].cleaned_text == c3
    assert rows[3].cleaned_text == c4                  # chunk A cut
    assert (rows[3].n_chunks, rows[3].n_kept) == (2, 1)
    assert rows[4].cleaned_text == "" and rows[4].n_kept == 0

    # restart on the same checkpoint: only the new file is processed and
    # the persisted store still cuts a re-paste of batch-1 content
    (src / "c.jsonl").write_text(
        json.dumps({"doc_id": 5, "text": f"{c3} {c2}"}) + "\n")
    _os.utime(src / "c.jsonl", (3_000_000, 3_000_000))
    run(ckpt)
    rows = {r.doc_id: r for r in read_rewritten_corpus(spark, out).collect()}
    assert rows[5].cleaned_text == "" and rows[5].kept_tokens == 0
    assert len(rows) == 5

    # full replay (checkpoint loss): batch partitions are dynamically
    # overwritten and the probe skips the batch's own partition — the
    # cleaned corpus is identical, nothing self-collides or duplicates
    before = sorted((r.doc_id, r.cleaned_text, r.n_kept)
                    for r in read_rewritten_corpus(spark, out).collect())
    run(str(tmp_path / "ckpt2"))
    after = sorted((r.doc_id, r.cleaned_text, r.n_kept)
                   for r in read_rewritten_corpus(spark, out).collect())
    assert after == before


def test_reservoir_sample_sink_converges_to_batch_bottom_k(spark, tmp_path):
    """Streaming priority sample: maintained across micro-batches with
    k-row state, the final store equals the batch bottom-k-by-md5 answer
    regardless of arrival order; re-delivered rows and a full checkpoint-
    loss replay change nothing (priorities are key-pure, so bottom-k is
    idempotent by algebra)."""
    import os as _os

    from pyspark.sql import functions as F

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        read_reservoir_sample, reservoir_sample_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    # 30 docs split across 3 files; file b re-delivers two of file a's
    (src / "a.jsonl").write_text(
        "\n".join(json.dumps({"doc_id": i}) for i in range(10)))
    (src / "b.jsonl").write_text(
        "\n".join(json.dumps({"doc_id": i}) for i in [0, 5] +
                  list(range(10, 20))))
    (src / "c.jsonl").write_text(
        "\n".join(json.dumps({"doc_id": i}) for i in range(20, 30)))
    for i, f in enumerate(["a.jsonl", "b.jsonl", "c.jsonl"]):
        _os.utime(src / f, (1_000_000 * (i + 1), 1_000_000 * (i + 1)))

    store, ckpt = str(tmp_path / "sample"), str(tmp_path / "ckpt")

    def run(ck):
        stream = (spark.readStream.schema("doc_id long")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = (reservoir_sample_sink(stream, store, ck, k=7)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run(ckpt)
    got = sorted(r.doc_id for r in
                 read_reservoir_sample(spark, store, k=7).collect())
    batch = spark.createDataFrame([(i,) for i in range(30)],
                                  "doc_id long")
    want = sorted(r.doc_id for r in batch
                  .orderBy(F.md5(F.col("doc_id").cast("string")))
                  .limit(7).collect())
    assert got == want and len(got) == 7

    # full replay on a fresh checkpoint: same store, still exactly k
    # distinct rows — no duplicate ids, no evictions of lower priorities
    run(str(tmp_path / "ckpt2"))
    again = sorted(r.doc_id for r in
                   read_reservoir_sample(spark, store, k=7).collect())
    assert again == want


def test_compact_reservoir_sample_preserves_bottom_k(spark, tmp_path):
    """The reservoir maintenance fold (r7 verdict #2): folding committed
    per-batch partitions into one seed leaves the read row-identical,
    bounds the partition count, and later batches merge on top of the
    seed to the same global bottom-k — bottom-k of bottom-ks, applied at
    rest instead of at read."""
    import os as _os

    from pyspark.sql import functions as F

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        compact_reservoir_sample, read_reservoir_sample,
        reservoir_sample_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    for i in range(3):
        (src / f"{i}.jsonl").write_text("\n".join(
            json.dumps({"doc_id": d})
            for d in range(i * 10, i * 10 + 10)))
        _os.utime(src / f"{i}.jsonl", (1_000_000 * (i + 1),) * 2)
    store, ck = str(tmp_path / "sample"), str(tmp_path / "ck")

    def run():
        stream = (spark.readStream.schema("doc_id long")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = (reservoir_sample_sink(stream, store, ck, k=7)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    before = sorted(r.doc_id for r in
                    read_reservoir_sample(spark, store, k=7).collect())
    nb, na = compact_reservoir_sample(spark, store, upto_batch_id=3, k=7)
    assert nb == 3 and na == 1, (nb, na)
    after = sorted(r.doc_id for r in
                   read_reservoir_sample(spark, store, k=7).collect())
    assert after == before

    # later batches land on top of the seed; the merged sample equals
    # the batch bottom-k over ALL 40 ids (fold is invisible to algebra)
    (src / "3.jsonl").write_text("\n".join(
        json.dumps({"doc_id": d}) for d in range(30, 40)))
    _os.utime(src / "3.jsonl", (4_000_000,) * 2)
    run()
    got = sorted(r.doc_id for r in
                 read_reservoir_sample(spark, store, k=7).collect())
    want = sorted(r.doc_id for r in
                  spark.createDataFrame([(i,) for i in range(40)],
                                        "doc_id long")
                  .orderBy(F.md5(F.col("doc_id").cast("string")))
                  .limit(7).collect())
    assert got == want and len(got) == 7


def test_embedding_dedup_multiband_sink_matches_batch_twin(
        spark, sf_dir, tmp_path):
    """The OR-of-bands streaming sink drained over the REAL embeddings
    table in three micro-batches equals the batch multiband answer
    pair-for-pair (cross-band pair dedupe included — one pair may
    collide in several bands, the flag store must carry it once), and
    the banded store probe is a pruned bucketed scan with zero
    store-side exchanges."""
    import os as _os
    import re as _re

    from pyspark.sql import functions as F

    from social_media_sentiment_analysis_spark.operators.similarity import (
        multiband_lsh_pairs,
    )
    from social_media_sentiment_analysis_spark.streaming.sinks import (
        embedding_dedup_multiband_sink, read_embedding_flags,
    )

    rows = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id", "embedding").collect())
    src = tmp_path / "in"
    src.mkdir()
    third = (len(rows) + 2) // 3
    for i in range(3):
        chunk = rows[i * third:(i + 1) * third]
        (src / f"{i}.jsonl").write_text("\n".join(
            json.dumps({"vec_id": r.vec_id,
                        "embedding": [float(x) for x in r.embedding]})
            for r in chunk))
        _os.utime(src / f"{i}.jsonl", (1_000_000 * (i + 1),) * 2)

    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).json(str(src)))
    out = str(tmp_path / "emb")
    q = (embedding_dedup_multiband_sink(
            stream, out, str(tmp_path / "ck"), dim=64, bands=8,
            band_bits=2, threshold=0.35)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    flags = [(r.a_id, r.b_id, r.cosine)
             for r in read_embedding_flags(spark, out).collect()]
    assert len(flags) == len(set(flags))        # deduped across bands
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    batch = {(r.a_id, r.b_id, r.cosine) for r in
             multiband_lsh_pairs(emb, "embedding", "vec_id", dim=64,
                                 bands=8, band_bits=2,
                                 threshold=0.35).collect()}
    assert set(flags) == batch and flags, (len(flags), len(batch))

    # plan contract: the banded store side of the probe join reads
    # bucketed by (band, val) with zero exchanges
    from social_media_sentiment_analysis_spark.sources.layout import (
        open_store,
    )
    table = open_store(spark, f"{out}/bands", ["band", "val"], 16)
    assert table is not None
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = (spark.table(table)
                 .filter(F.col("batch_id") < 2)
                 .select("band", "val",
                         F.col("vec_id").alias("old_id")))
        join = (spark.read.parquet(f"{out}/bands/batch_id=2")
                .select("band", "val", "vec_id").join(probe,
                                                      ["band", "val"]))
        plan = join._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        assert len(_re.findall(r"\bExchange\b", plan)) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _write_emb_fixture(src):
    """Three jsonl micro-batch files over 6 vectors: batch 0 orthogonal
    (no flags), batch 1 one cross-batch near-dup of batch 0 plus a new
    block, batch 2 two near-dups in the second block (cross + within).
    Expected flag set at 0.95: {(1,3), (4,5), (4,6), (5,6)}."""
    import os as _os

    def row(vid, label, vec):
        return json.dumps({"vec_id": vid, "label": label, "embedding": vec})

    src.mkdir()
    (src / "a.jsonl").write_text(
        row(1, "x", [1.0, 0.0, 0.0, 0.0]) + "\n"
        + row(2, "x", [0.0, 1.0, 0.0, 0.0]) + "\n")
    (src / "b.jsonl").write_text(
        row(3, "x", [0.999, 0.04, 0.0, 0.0]) + "\n"
        + row(4, "y", [1.0, 0.0, 0.0, 0.0]) + "\n")
    (src / "c.jsonl").write_text(
        row(5, "y", [0.998, 0.06, 0.0, 0.0]) + "\n"
        + row(6, "y", [0.997, 0.07, 0.0, 0.0]) + "\n")
    for i, f in enumerate(["a.jsonl", "b.jsonl", "c.jsonl"]):
        _os.utime(src / f, (1_000_000 * (i + 1),) * 2)


def test_sink_crash_between_sweep_and_store_write_self_heals(
        spark, tmp_path, monkeypatch):
    """r7 verdict #6: the sink-store replay contract under an INJECTED
    crash, not just a clean replay. Two kills inside batch 1's
    foreachBatch: (a) after the flags-path stale sweep but before the
    flags write, and (b) after the flags write but before the vector-
    store write — the two halves of the claimed crash window. Each run
    restarts on the SAME checkpoint; flags and vector store must
    converge byte-identically to an uninjected reference run."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from social_media_sentiment_analysis_spark.sources import layout
    from social_media_sentiment_analysis_spark.streaming.sinks import (
        embedding_dedup_sink, read_embedding_flags,
    )

    src = tmp_path / "in"
    _write_emb_fixture(src)

    def drain(out, ck):
        stream = (spark.readStream
                  .schema("vec_id long, label string, "
                          "embedding array<double>")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = (embedding_dedup_sink(stream, out, ck, threshold=0.95)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    def snapshot(out):
        flags = sorted((r.a_id, r.b_id, r.cosine) for r in
                       read_embedding_flags(spark, out).collect())
        vecs = sorted((r.vec_id, r.batch_id, tuple(r.embedding)) for r in
                      spark.read.parquet(f"{out}/vectors").collect())
        return flags, vecs

    ref = str(tmp_path / "ref")
    drain(ref, str(tmp_path / "ck_ref"))
    want = snapshot(ref)
    assert {(a, b) for a, b, _ in want[0]} == {(1, 3), (4, 5), (4, 6),
                                              (5, 6)}

    real_sweep = layout.drop_stale_partitions
    real_replace = layout.replace_store_partition

    # (a) crash AFTER the flags sweep, BEFORE the flags write
    fired = []

    def sweep_then_die(spark_, location, from_batch_id, table=None):
        dropped = real_sweep(spark_, location, from_batch_id, table=table)
        if location.endswith("/flags") and from_batch_id == 1 and not fired:
            fired.append(1)
            raise RuntimeError("injected crash: post-sweep, pre-write")
        return dropped

    monkeypatch.setattr(layout, "drop_stale_partitions", sweep_then_die)
    out_a, ck_a = str(tmp_path / "a"), str(tmp_path / "ck_a")
    with pytest.raises(StreamingQueryException, match="injected crash"):
        drain(out_a, ck_a)
    monkeypatch.setattr(layout, "drop_stale_partitions", real_sweep)
    drain(out_a, ck_a)                       # restart, same checkpoint
    assert snapshot(out_a) == want

    # (b) crash AFTER the flags write, BEFORE the vector-store write
    fired = []

    def die_before_store(spark_, df, location, batch_id, bucket_cols,
                         **kw):
        if location.endswith("/vectors") and batch_id == 1 and not fired:
            fired.append(1)
            raise RuntimeError("injected crash: flags live, store stale")
        return real_replace(spark_, df, location, batch_id, bucket_cols,
                            **kw)

    monkeypatch.setattr(layout, "replace_store_partition",
                        die_before_store)
    out_b, ck_b = str(tmp_path / "b"), str(tmp_path / "ck_b")
    with pytest.raises(StreamingQueryException, match="injected crash"):
        drain(out_b, ck_b)
    monkeypatch.setattr(layout, "replace_store_partition", real_replace)
    drain(out_b, ck_b)                       # restart, same checkpoint
    assert snapshot(out_b) == want


def test_compact_flag_store_preserves_reads_and_replay(spark, tmp_path):
    """The flag-store maintenance fold (r7 verdict #3): folding a dedup
    sink's per-batch flag partitions into one seed leaves the flag reader
    row-identical, bounds file count (the small-file tax lands on the
    engine's own sink outputs too), keeps the ``batch_id=`` layout the
    replay sweep depends on, and a same-checkpoint restart on top of the
    folded store neither drops nor duplicates flags."""
    import os as _os

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        compact_flag_store, embedding_dedup_sink, read_embedding_flags,
    )

    def row(vid, label, vec):
        return json.dumps({"vec_id": vid, "label": label, "embedding": vec})

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        row(1, "x", [1.0, 0.0, 0.0, 0.0]) + "\n"
        + row(2, "x", [0.0, 1.0, 0.0, 0.0]) + "\n")
    (src / "b.jsonl").write_text(
        row(3, "x", [0.999, 0.04, 0.0, 0.0]) + "\n"
        + row(4, "y", [1.0, 0.0, 0.0, 0.0]) + "\n")
    (src / "c.jsonl").write_text(
        row(5, "y", [0.998, 0.06, 0.0, 0.0]) + "\n"
        + row(6, "y", [0.997, 0.07, 0.0, 0.0]) + "\n")
    for i, f in enumerate(["a.jsonl", "b.jsonl", "c.jsonl"]):
        _os.utime(src / f, (1_000_000 * (i + 1),) * 2)
    out, ck = str(tmp_path / "emb"), str(tmp_path / "ck")

    def run(ckpt):
        stream = (spark.readStream
                  .schema("vec_id long, label string, "
                          "embedding array<double>")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = (embedding_dedup_sink(stream, out, ckpt, threshold=0.95)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run(ck)
    flags_path = f"{out}/flags"
    before = sorted((r.a_id, r.b_id, r.cosine)
                    for r in read_embedding_flags(spark, out).collect())
    files_before = sum(f.endswith(".parquet")
                       for _, _, fs in _os.walk(flags_path) for f in fs)
    # batch 0 (orthogonal vectors, no flags) wrote no partition — an
    # empty dynamic overwrite creates no directory — so 2 partitions
    nb, na = compact_flag_store(spark, flags_path, upto_batch_id=3)
    assert nb == 2 and na == 1, (nb, na)
    after = sorted((r.a_id, r.b_id, r.cosine)
                   for r in read_embedding_flags(spark, out).collect())
    assert after == before and len(after) == 4
    files_after = sum(f.endswith(".parquet")
                      for _, _, fs in _os.walk(flags_path) for f in fs)
    assert files_after < files_before
    # the partition layout the replay sweep needs survives the fold
    assert _os.path.isdir(f"{flags_path}/batch_id=-1")

    # same-checkpoint restart over the folded store: availableNow already
    # drained everything, so this is a no-op restart — flags unchanged,
    # no duplicate rows
    run(ck)
    again = sorted((r.a_id, r.b_id, r.cosine)
                   for r in read_embedding_flags(spark, out).collect())
    assert again == before


def test_sink_store_probes_read_bucketed_exchange_free(spark, tmp_path):
    """r6 verdict #1: the store side of every incremental dedup sink's
    per-batch probe must be a pruned BUCKETED scan with zero exchanges —
    joining a micro-batch against the store must never re-shuffle history.
    Each probe is joined against a (deliberately non-bucketed) stand-in
    micro-batch exactly as the sink joins it, and the physical plan must
    show exactly ONE Exchange: the batch side's. Broadcast is disabled so
    a small store can't pass by being broadcast (broadcasting history is
    the scale bug this layout exists to prevent)."""
    import os as _os
    import re as _re

    from pyspark.sql import functions as F

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        _band_store_probe, _chunk_store_probe, _fp_store_probe,
        near_dedup_sink, rewrite_dedup_sink, winnow_containment_sink,
    )

    filler = ("structured streaming maintains incremental state across "
              "micro batches while the optimizer prunes partitions and "
              "buckets colocate the join keys for every probe")
    texts = [f"doc number {i} says {filler} variant {i}" for i in range(3)]
    src = tmp_path / "in"
    src.mkdir()
    for i, t in enumerate(texts):
        f = src / f"{i}.jsonl"
        f.write_text(json.dumps({"doc_id": i + 1, "text": t}) + "\n")
        _os.utime(f, (1_000_000 * (i + 1), 1_000_000 * (i + 1)))

    def drain(build):
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = build(stream).trigger(availableNow=True).start()
        q.awaitTermination()

    nd = str(tmp_path / "nd")
    rw = str(tmp_path / "rw")
    wc = str(tmp_path / "wc")
    drain(lambda s: near_dedup_sink(s, nd, str(tmp_path / "ck1")))
    drain(lambda s: rewrite_dedup_sink(s, rw, str(tmp_path / "ck2")))
    drain(lambda s: winnow_containment_sink(s, wc, str(tmp_path / "ck3")))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bands = _band_store_probe(spark, f"{nd}/bands", 3)
        chunks = _chunk_store_probe(spark, f"{rw}/chunks", 3)
        fps = _fp_store_probe(spark, f"{wc}/fps", f"{wc}/fp_stats",
                              3, 50, "doc_id")
        cases = {
            "bands": spark.read.parquet(f"{nd}/bands/batch_id=0")
                     .join(bands, ["band", "band_hash"], "left_semi"),
            "chunks": spark.read.parquet(f"{rw}/chunks/batch_id=0")
                      .join(chunks.withColumn("__seen", F.lit(True)),
                            "h", "left"),
            "fps": spark.read.parquet(f"{wc}/fps/batch_id=0")
                   .join(fps, "fp"),
        }
        for name, probe_join in cases.items():
            plan = probe_join._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan, (name, plan)
            n_exchange = len(_re.findall(r"\bExchange\b", plan))
            assert n_exchange == 1, (name, n_exchange, plan)
            # the store scan is partition-pruned to strictly-earlier batches
            assert "batch_id" in plan, (name, plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_compact_store_preserves_decisions_and_plan(spark, tmp_path):
    """r6 verdict #5: folding committed batch partitions into the seed
    partition must change NOTHING a probe or reader can observe — same
    probe fingerprints, same cleaned corpus, same bucketed exchange-free
    plan — while shrinking the partition count; and a new batch arriving
    after compaction still dedups against the folded history."""
    import os as _os
    import re as _re

    from social_media_sentiment_analysis_spark.sources.layout import (
        compact_store,
    )
    from social_media_sentiment_analysis_spark.streaming.sinks import (
        _chunk_store_probe, read_rewritten_corpus, rewrite_dedup_sink,
    )

    c1 = "alpha beta gamma delta epsilon zeta"
    c2 = "one two three four five six"
    c3 = "red orange yellow green blue indigo"
    c4 = "mercury venus earth mars jupiter saturn"
    src = tmp_path / "in"
    src.mkdir()
    for i, (did, text) in enumerate([(1, f"{c1} {c2}"), (2, c3),
                                     (3, f"{c1} {c4}")]):
        f = src / f"{i}.jsonl"
        f.write_text(json.dumps({"doc_id": did, "text": text}) + "\n")
        _os.utime(f, (1_000_000 * (i + 1), 1_000_000 * (i + 1)))

    out, ckpt = str(tmp_path / "rw"), str(tmp_path / "ckpt")

    def run():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = (rewrite_dedup_sink(stream, out, ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    chunks = f"{out}/chunks"
    corpus_before = sorted(
        (r.doc_id, r.cleaned_text, r.n_kept)
        for r in read_rewritten_corpus(spark, out).collect())
    probe_before = sorted(
        r.h for r in _chunk_store_probe(spark, chunks, 99).collect())

    # every batch < 3 is committed (availableNow drained) — fold them
    parts_before, parts_after = compact_store(spark, chunks, "h",
                                              upto_batch_id=3)
    assert parts_before == 3 and parts_after == 1

    probe_after = sorted(
        r.h for r in _chunk_store_probe(spark, chunks, 99).collect())
    assert probe_after == probe_before
    plan = (_chunk_store_probe(spark, chunks, 99)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Bucketed: true" in plan and not _re.search(r"\bExchange\b", plan)

    # a post-compaction batch still dedups against the folded history
    f = src / "3.jsonl"
    f.write_text(json.dumps({"doc_id": 9, "text": f"{c2} {c1}"}) + "\n")
    _os.utime(f, (4_000_000, 4_000_000))
    run()
    rows = {r.doc_id: r for r in read_rewritten_corpus(spark, out).collect()}
    assert rows[9].cleaned_text == "" and rows[9].n_kept == 0
    assert sorted((r.doc_id, r.cleaned_text, r.n_kept)
                  for r in rows.values() if r.doc_id != 9) == corpus_before


def test_rewrite_corpus_single_row_on_cross_batch_redelivery(spark,
                                                             tmp_path):
    """r6 ADVICE: a doc re-delivered in a LATER micro-batch must not
    surface twice from read_rewritten_corpus — first-occurrence semantics
    keep the earliest batch's (full) row, not the later (emptied) copy."""
    import os as _os

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        read_rewritten_corpus, rewrite_dedup_sink,
    )

    text1 = "alpha beta gamma delta epsilon zeta one two three four five six"
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": text1}) + "\n"
        + json.dumps({"doc_id": 2,
                      "text": "red orange yellow green blue indigo"}) + "\n")
    (src / "b.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": text1}) + "\n")   # redelivered
    _os.utime(src / "a.jsonl", (1_000_000, 1_000_000))
    _os.utime(src / "b.jsonl", (2_000_000, 2_000_000))

    out = str(tmp_path / "rw")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).json(str(src)))
    q = (rewrite_dedup_sink(stream, out, str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    rows = read_rewritten_corpus(spark, out).collect()
    assert len(rows) == 2                       # one row per doc, not three
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].cleaned_text == text1       # the EARLIEST (full) copy
    assert by_id[1].n_kept == 2


def test_processing_time_soak_bounds_state(spark, tmp_path):
    """r6 verdict #7: the flagship streaming summary (enrich → watermarked
    dedup → windowed rollup) under a MULTI-TRIGGER processingTime schedule
    with injected late and duplicate rows. Every other streaming test
    drains via availableNow, which can't show whether watermark GC
    actually fires batch-over-batch; here the state-metrics listener must
    record real evictions (numRowsRemoved > 0) and a final state bounded
    well below total ingest."""
    import os as _os
    import time as _time

    from social_media_sentiment_analysis_spark.streaming import (
        enrich_tweet_stream, hourly_rollup_stream,
    )
    from social_media_sentiment_analysis_spark.streaming.observability import (
        StateMetricsRecorder,
    )
    from social_media_sentiment_analysis_spark.streaming.pipeline import (
        TWEET_ENVELOPE_SCHEMA,
    )

    src = tmp_path / "in"
    src.mkdir()
    n_hours, per_hour = 12, 5
    total_rows = 0
    for h in range(n_hours):
        ts = H10 + h * 3_600_000
        rows = [_envelope(f"t{h}_{i}", f"launch {i} is fast today", ts=ts)
                for i in range(per_hour)]
        rows.append(_envelope(f"t{h}_0", "launch 0 is fast today", ts=ts))
        if h >= 4:                      # 5 hours late — behind the watermark
            rows.append(_envelope(f"late{h}", "a very late arrival",
                                  ts=ts - 5 * 3_600_000))
        f = src / f"f{h:02d}.jsonl"
        f.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        _os.utime(f, (1_000_000 * (h + 1), 1_000_000 * (h + 1)))
        total_rows += len(rows)

    rec = StateMetricsRecorder()
    spark.streams.addListener(rec)
    name = "soak_" + uuid.uuid4().hex[:8]
    stream = (spark.readStream.schema(TWEET_ENVELOPE_SCHEMA)
              .option("maxFilesPerTrigger", 1).json(str(src)))
    rollup = hourly_rollup_stream(
        enrich_tweet_stream(stream, watermark="1 hour"))
    q = (rollup.writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(processingTime="200 milliseconds").start())
    try:
        deadline = _time.time() + 180
        while _time.time() < deadline:
            done = sum(p.numInputRows for p in q.recentProgress)
            if done >= total_rows:
                break
            _time.sleep(0.5)
        else:
            raise AssertionError(
                f"soak did not drain {total_rows} rows in time")
    finally:
        q.stop()
        # listener delivery is async — give the bus a moment to flush
        for _ in range(40):
            if sum(r["numInputRows"] for r in rec.records) >= total_rows:
                break
            _time.sleep(0.25)
        spark.streams.removeListener(rec)

    with_state = [r for r in rec.records if r["state"]]
    assert len(with_state) >= n_hours          # genuinely multi-trigger
    removed = sum(op["numRowsRemoved"] for r in with_state
                  for op in r["state"])
    assert removed > 0, "watermark GC never evicted a state row"
    final = sum(op["numRowsTotal"] for op in with_state[-1]["state"])
    peak = max(sum(op["numRowsTotal"] for op in r["state"])
               for r in with_state)
    # 12 hours of keys flowed through; live state must hold only the
    # watermark-recent slice (dedup ids + open windows), far below ingest
    assert final < total_rows / 2, (final, total_rows)
    assert final <= peak < total_rows, (final, peak, total_rows)
    # the engine watermark actually advanced across the run
    marks = [r["watermark"] for r in rec.records if r["watermark"]]
    assert marks and max(marks) > min(marks)


def test_embedding_dedup_sink_flags_cross_batch_neardups(spark, tmp_path):
    """Streaming embedding near-dup (vector state): a later batch's vector
    that is near-parallel to an earlier batch's (same block) is flagged
    via the persisted vector store; orthogonal vectors are not; a full
    checkpoint-loss replay neither duplicates nor self-collides flags;
    and the store probe reads bucketed with zero store-side exchanges."""
    import os as _os
    import re as _re

    from pyspark.sql import functions as F

    from social_media_sentiment_analysis_spark.streaming.sinks import (
        _vector_store_probe, embedding_dedup_sink, read_embedding_flags,
    )

    def row(vid, label, vec):
        return json.dumps({"vec_id": vid, "label": label, "embedding": vec})

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        row(1, "x", [1.0, 0.0, 0.0, 0.0]) + "\n"
        + row(2, "x", [0.0, 1.0, 0.0, 0.0]) + "\n")       # orthogonal to 1
    (src / "b.jsonl").write_text(
        row(3, "x", [0.999, 0.04, 0.0, 0.0]) + "\n"       # near-dup of 1
        + row(4, "y", [1.0, 0.0, 0.0, 0.0]) + "\n")       # same dir, other block
    (src / "c.jsonl").write_text(
        row(5, "y", [0.998, 0.06, 0.0, 0.0]) + "\n"       # near-dup of 4 (cross)
        + row(6, "y", [0.997, 0.07, 0.0, 0.0]) + "\n")    # near-dup of 5 (within)
    for i, f in enumerate(["a.jsonl", "b.jsonl", "c.jsonl"]):
        _os.utime(src / f, (1_000_000 * (i + 1), 1_000_000 * (i + 1)))

    out = str(tmp_path / "emb")

    def run(ck):
        stream = (spark.readStream
                  .schema("vec_id long, label string, "
                          "embedding array<double>")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = (embedding_dedup_sink(stream, out, ck, threshold=0.95)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run(str(tmp_path / "ck1"))
    flags = read_embedding_flags(spark, out).collect()
    pairs = {(r.a_id, r.b_id) for r in flags}
    assert pairs == {(1, 3), (4, 5), (5, 6), (4, 6)}, pairs
    assert all(r.cosine >= 0.95 for r in flags)

    # checkpoint-loss replay: same flag set, no duplicate rows
    run(str(tmp_path / "ck2"))
    flags = read_embedding_flags(spark, out).collect()
    assert len(flags) == len({(r.a_id, r.b_id) for r in flags}) == 4

    # plan contract: the store probe side is a pruned bucketed scan with
    # zero exchanges; the only Exchange in a probe join is the batch side
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = _vector_store_probe(spark, f"{out}/vectors", 3,
                                    "vec_id", "label", "embedding")
        join = (spark.read.parquet(f"{out}/vectors/batch_id=0")
                .withColumnRenamed("label", "__block").join(probe, "__block"))
        plan = join._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        assert len(_re.findall(r"\bExchange\b", plan)) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_embedding_dedup_sink_lsh_block_matches_batch_twin(
        spark, sf_dir, tmp_path):
    """The sink's documented 100 TB blocking mode — ``block_col`` is a
    hyperplane-LSH bucket computed map-side on the stream, not a corpus
    attribute — drained over the REAL embeddings table in three
    micro-batches equals the batch LSH-blocked answer pair-for-pair
    (flag-set batching independence holds for any deterministic block
    key), and its recall vs the exact within-label answer clears the
    floor measured under the driver's vanilla session
    (0.071 / 0.192 / 0.136 at sf0.001/0.01/0.1 — the banding probability
    (1 − θ/π)^4 at cosines 0.35–0.47; deterministic md5 planes make the
    per-SF value exact, the floor is headroom for future testdata)."""
    import os as _os

    from pyspark.sql import functions as F

    from social_media_sentiment_analysis_spark.operators.dedup import (
        embedding_near_duplicates,
    )
    from social_media_sentiment_analysis_spark.operators.similarity import (
        hyperplane_bucket,
    )
    from social_media_sentiment_analysis_spark.streaming.sinks import (
        embedding_dedup_sink, read_embedding_flags,
    )

    rows = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id", "label", "embedding").collect())
    src = tmp_path / "in"
    src.mkdir()
    third = (len(rows) + 2) // 3
    for i in range(3):
        chunk = rows[i * third:(i + 1) * third]
        (src / f"{i}.jsonl").write_text("\n".join(
            json.dumps({"vec_id": r.vec_id,
                        "embedding": [float(x) for x in r.embedding]})
            for r in chunk))
        _os.utime(src / f"{i}.jsonl", (1_000_000 * (i + 1),) * 2)

    bucket = hyperplane_bucket(F.col("embedding"), 64, 4)
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).json(str(src))
              .withColumn("bucket", bucket))
    out = str(tmp_path / "emb")
    q = (embedding_dedup_sink(stream, out, str(tmp_path / "ck"),
                              block_col="bucket", threshold=0.35)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    flags = {(r.a_id, r.b_id, r.cosine)
             for r in read_embedding_flags(spark, out).collect()}

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("bucket", bucket))
    batch = {(r.a_id, r.b_id, r.cosine) for r in
             embedding_near_duplicates(emb, "embedding", "vec_id",
                                       block_col="bucket", threshold=-1.0)
             .withColumn("cosine", F.round("cosine", 4))
             .filter(F.col("cosine") >= 0.35).collect()}
    assert flags == batch and flags, (len(flags), len(batch))

    exact = {(r.a_id, r.b_id) for r in
             embedding_near_duplicates(emb, "embedding", "vec_id",
                                       block_col="label", threshold=-1.0)
             .withColumn("cosine", F.round("cosine", 4))
             .filter(F.col("cosine") >= 0.35).collect()}
    caught = {(a, b) for a, b, _ in flags} & exact
    recall = len(caught) / len(exact)
    assert recall >= 0.05, (len(caught), len(exact), recall)


def test_compact_stats_store_with_merge_preserves_flags(spark, tmp_path):
    """Compacting the winnow sink's (fp, n_docs) DELTA store with the
    monoid merge (sum per fp) must leave the next batch's flags identical
    — sum over deltas == sum over merged deltas — while bounding the
    store's rows by distinct fps."""
    import os as _os

    from social_media_sentiment_analysis_spark.sources.layout import (
        compact_store,
    )
    from social_media_sentiment_analysis_spark.streaming.sinks import (
        read_containment_flags, winnow_containment_sink,
    )

    small = ("the quick brown fox jumps over the lazy dog while the "
             "spark engine shuffles partitions across the cluster nodes "
             "and the optimizer prunes columns from every parquet scan")
    other = ("completely different text about watermarks and stateful "
             "aggregation semantics in structured streaming pipelines "
             "with checkpoint recovery and exactly once delivery rules")
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(json.dumps({"doc_id": 1, "text": small}))
    (src / "b.jsonl").write_text(json.dumps({"doc_id": 2, "text": other}))
    _os.utime(src / "a.jsonl", (1_000_000, 1_000_000))
    _os.utime(src / "b.jsonl", (2_000_000, 2_000_000))

    out, ckpt = str(tmp_path / "wc"), str(tmp_path / "ckpt")

    def run():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = (winnow_containment_sink(stream, out, ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    # fold both stores' committed batches (0, 1); stats store with merge
    compact_store(spark, f"{out}/fps", "fp", upto_batch_id=2)
    n_stats_rows_before = spark.read.parquet(f"{out}/fp_stats").count()
    compact_store(spark, f"{out}/fp_stats", "fp", upto_batch_id=2,
                  sum_cols=("n_docs",))
    merged = spark.read.parquet(f"{out}/fp_stats")
    assert merged.count() == merged.select("fp").distinct().count()
    assert merged.count() <= n_stats_rows_before

    # batch 2: a doc quoting doc 1 must still be flagged via the folded
    # stores (probe reads the -1 partitions + merged stats)
    (src / "c.jsonl").write_text(
        json.dumps({"doc_id": 9,
                    "text": f"header menu login {small} footer legal"}))
    _os.utime(src / "c.jsonl", (3_000_000, 3_000_000))
    run()
    pairs = {(r.doc_a, r.doc_b)
             for r in read_containment_flags(spark, out).collect()}
    assert (1, 9) in pairs, pairs


def test_drain_to_df_single_partition_and_conf_restored(spark, stream_input):
    """Optimization-round contract for the availableNow drains: the
    collected bounded aggregate comes back as ONE partition (no
    defaultParallelism re-scatter — downstream actions were paying a full
    32-empty-task wave per action at local[32]), the stream runs with the
    STREAM_STATE_PARTITIONS state dial, and the session's own
    shuffle-partitions conf is restored after the drain."""
    from social_media_sentiment_analysis_spark.streaming.pipeline import (
        drain_stream_to_df,
        flatten_envelope,
        read_tweet_file_stream,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    stream = flatten_envelope(read_tweet_file_stream(spark, stream_input))
    agg = stream.groupBy("language").count()
    got = drain_stream_to_df(agg, "drain_test")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert got.rdd.getNumPartitions() == 1
    rows = {r.language: r["count"] for r in got.collect()}
    assert rows["en"] >= 3   # the fixture's English envelopes survive
