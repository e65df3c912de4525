"""Structured Streaming pipelines — the reference's dataflow path (SURVEY
§3.2) as one declarative stream job.

Reference shape (twitter_streamer.py:236-288): Kafka consumer loop →
json.loads → nested projection → clean → filter → per-tweet sentiment RPC →
JSONL file + per-tweet HTTP store thread. Here that whole chain is a single
``readStream`` plan sharing the *batch* transform code (same Column
expressions), so batch and streaming can't drift.

Streaming semantics upgrades over the reference (SURVEY §2.9):
- event-time watermarks bound all state (the reference cleared a 10k-entry
  set wholesale, twitter_producer.py:202-205);
- dedup is ``dropDuplicatesWithinWatermark`` — the principled version
  of D1, and exactly-once lands via the idempotent sink (S6/D2);
- the hourly rollup (A3 — declared in the reference's DDL but never
  implemented) is a watermarked tumbling window aggregation.
"""

from __future__ import annotations

import os
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..functions.sentiment import sentiment_enrich
from ..schemas import TWEET_ENVELOPE_SCHEMA
from .sinks import run_available_now


def read_tweet_file_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based stream of tweet envelopes (JSONL of TWEET_ENVELOPE_SCHEMA).
    The file source stands in for Kafka in tests; swap ``read_kafka_stream``
    in production — downstream code is identical."""
    reader = spark.readStream.schema(TWEET_ENVELOPE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def read_kafka_stream(spark: SparkSession, bootstrap_servers: str,
                      topic: str, starting_offsets: str = "latest",
                      max_offsets_per_trigger: int | None = None) -> DataFrame:
    """Kafka source (S4, twitter_streamer.py:34-84): subscribe + JSON parse.
    Offsets ride the checkpoint (replacing consumer-group auto-commit);
    ``maxOffsetsPerTrigger`` is the backpressure dial (S2's rate-limit sleep).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    good, _rejects = parse_envelopes(reader.load(), "value")
    return good


def parse_envelopes(raw: DataFrame, value_col: str = "value"
                    ) -> tuple[DataFrame, DataFrame]:
    """Bad-record-tolerant envelope parse (SURVEY §2.9 fault tolerance —
    the reference's try/except-log-continue per message,
    twitter_streamer.py:279-281, as a dataflow split).

    Returns (good, rejects): ``from_json`` yields null for malformed JSON,
    and an envelope without a tweet id is unusable downstream (dedup key),
    so both route to the rejects side, which carries the raw payload for a
    quarantine sink. Works identically on batch and streaming frames."""
    parsed = raw.withColumn(
        "envelope",
        F.from_json(F.col(value_col).cast("string"), TWEET_ENVELOPE_SCHEMA))
    bad = F.col("envelope").isNull() | F.col("envelope.data.id").isNull()
    good = parsed.filter(~bad).select("envelope.*")
    rejects = parsed.filter(bad).select(
        F.col(value_col).cast("string").alias("raw"))
    return good, rejects


def flatten_envelope(df: DataFrame) -> DataFrame:
    """P1 nested projection (twitter_streamer.py:141-154) with the
    reference's missing→default semantics (''/0 via coalesce)."""
    return df.select(
        F.coalesce(F.col("data.id"), F.lit("")).alias("tweet_id"),
        F.coalesce(F.col("data.text"), F.lit("")).alias("tweet_text"),
        F.to_timestamp(F.col("data.created_at")).alias("created_at"),
        F.coalesce(F.col("data.author_id"), F.lit("")).alias("author_id"),
        F.coalesce(F.col("data.lang"), F.lit("")).alias("language"),
        F.coalesce(F.col("data.public_metrics.retweet_count"), F.lit(0)).alias("retweet_count"),
        F.coalesce(F.col("data.public_metrics.like_count"), F.lit(0)).alias("like_count"),
        F.coalesce(F.col("data.public_metrics.reply_count"), F.lit(0)).alias("reply_count"),
        F.coalesce(F.col("data.public_metrics.quote_count"), F.lit(0)).alias("quote_count"),
        F.col("includes.users").alias("users"),
        F.col("kafka_timestamp"),
        F.timestamp_millis(F.col("kafka_timestamp")).alias("event_time"),
    )


def enrich_tweet_stream(df: DataFrame,
                        language: str = "en",
                        watermark: str = "1 hour") -> DataFrame:
    """The full dataflow: flatten → filter (P2/P3) → clean+score+ensemble
    (U4, same Column pipeline as batch) → watermarked dedup (D1).

    Equivalent to the reference's process_tweet + producer dedup, minus the
    two RPC hops (SURVEY §3.2)."""
    flat = flatten_envelope(df)
    enriched = sentiment_enrich(flat, text_col="tweet_text")
    filtered = enriched.filter(
        (F.col("language") == language)
        & (F.trim(F.col("cleaned_text")) != "")
    )
    # dropDuplicatesWithinWatermark, NOT dropDuplicates: with plain
    # dropDuplicates the watermark only bounds state if the event-time
    # column is part of the key list — keyed on tweet_id alone the state
    # store grows without bound. The WithinWatermark variant dedups on the
    # key but evicts entries once they age past the watermark: the
    # principled form of the reference's 10k-clear hack
    # (twitter_producer.py:202-205).
    # Batch inputs run the SAME pipeline with plain dropDuplicates (the
    # WithinWatermark variant is stream-only) — one code path, two modes;
    # output equality is pinned by
    # test_stream_and_batch_enrichment_agree.
    if not df.isStreaming:
        return filtered.dropDuplicates(["tweet_id"])
    return (
        filtered
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["tweet_id"])
    )


def _has_watermark(df: DataFrame) -> bool:
    """True if the stream already carries an event-time watermark.

    Spark disallows redefining a watermark downstream, so composed
    pipelines (enrich_tweet_stream's dedup watermark → rollup) must not
    set a second one. Checked on the analyzed logical plan."""
    try:
        return "EventTimeWatermark" in df._jdf.queryExecution() \
            .analyzed().toString()
    except Exception:
        return False


def hourly_rollup_stream(enriched: DataFrame,
                         watermark: str = "2 hours") -> DataFrame:
    """A3: tumbling 1-hour sentiment rollup with watermark-bounded state —
    the `sentiment_summary` table writer the reference never implemented
    (sentiment_analysis.py:136-149).

    Composable after ``enrich_tweet_stream``: if the input already carries
    a watermark (the dedup one), it is reused instead of redefined —
    late-data cutoff for the rollup is then the upstream bound.
    """
    if enriched.isStreaming and not _has_watermark(enriched):
        enriched = enriched.withWatermark("event_time", watermark)
    return (
        enriched
        .groupBy(
            F.window(F.col("event_time"), "1 hour").alias("w"),
            F.col("final_sentiment").alias("sentiment"),
        )
        .agg(
            F.count(F.lit(1)).alias("tweet_count"),
            F.avg("confidence_score").alias("avg_confidence"),
            F.sum("like_count").alias("total_likes"),
            F.sum("retweet_count").alias("total_retweets"),
        )
        .select(
            F.col("w.start").alias("date_hour"),
            "sentiment", "tweet_count", "avg_confidence",
            "total_likes", "total_retweets",
        )
    )


def stream_interval_join(left: DataFrame, right: DataFrame, *,
                         key: str, right_key: str,
                         left_ts: str, right_ts: str,
                         within: str = "30 minutes",
                         left_watermark: str = "1 hour",
                         right_watermark: str = "1 hour",
                         how: str = "inner") -> DataFrame:
    """Watermarked stream-stream join: right rows match a left row with the
    same key when ``left_ts <= right_ts <= left_ts + within``.

    This is the streaming-only join class (e.g. tweets ⋈ trailing
    engagement updates) the reference's row-at-a-time loop could never
    express. Both watermarks plus the two-sided time-range predicate are
    REQUIRED: together they bound each side's join state, so Spark evicts
    buffered rows once the other stream's watermark passes the range end —
    without them state grows forever. Key equality keeps the join a hash
    exchange on the key, exactly like the batch interval_join.

    ``how="left_outer"`` adds the timeout semantics: a left row that never
    saw a match is emitted with NULL right columns — but only once the
    RIGHT watermark has passed ``left_ts + within``, because until then a
    match could still arrive. Operationally that means outer results trail
    the watermark by up to one micro-batch (eviction happens in the batch
    AFTER the one whose data advanced the watermark) — a correctness-of-
    completeness contract, not a bug, and the reason the test feeds a
    trailing batch. Same bounded state as the inner form.
    """
    l = left.withWatermark(left_ts, left_watermark)
    r = right.withWatermark(right_ts, right_watermark)
    return l.join(
        r,
        F.expr(
            f"{key} = {right_key} AND "
            f"{right_ts} >= {left_ts} AND "
            f"{right_ts} <= {left_ts} + interval {within}"
        ),
        how,
    )


def enrich_with_dim(stream: DataFrame, dim: DataFrame, *,
                    stream_key: str, dim_key: str,
                    how: str = "left") -> DataFrame:
    """Stream-static join: enrich a stream with a (slowly-changing)
    dimension table. Spark re-plans the static side per micro-batch, so a
    dim refreshed in place (overwritten parquet / table) is picked up on
    the next trigger without restarting the query; the dim broadcasts when
    small, and no streaming state is created (unlike stream-stream joins).
    This is J1's production shape: author/user metadata maintained by a
    separate job, joined onto the live stream."""
    return stream.join(
        F.broadcast(dim), stream[stream_key] == dim[dim_key], how)


def trending_words_stream(enriched: DataFrame,
                          watermark: str = "2 hours",
                          min_len: int = 3) -> DataFrame:
    """Trending words per hour: tokenize the cleaned stream, explode, and
    count words inside tumbling 1-hour event-time windows.

    The explode is stateless/map-side — only the windowed count holds
    state, and the watermark bounds it (state = vocabulary × active
    windows, not history). Emit in update/complete mode and take the
    top-k at read time: a global streaming top-k would force a single
    reduce task, whereas per-window counts stay fully parallel and the
    rank is a cheap batch query over the sink — the standard split for
    dashboard-style trending at scale. Composable after
    ``enrich_tweet_stream`` (reuses its watermark, same rule as
    hourly_rollup_stream).
    """
    if enriched.isStreaming and not _has_watermark(enriched):
        enriched = enriched.withWatermark("event_time", watermark)
    words = (
        enriched
        .select("event_time",
                F.explode(F.split(F.lower(F.col("cleaned_text")), r"\s+"))
                .alias("word"))
        .filter(F.length("word") >= min_len)
    )
    return (
        words.groupBy(
            F.window(F.col("event_time"), "1 hour").alias("w"),
            F.col("word"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("date_hour"), "word", "n")
    )


def session_rollup_stream(events: DataFrame, *,
                          ts_col: str = "event_time",
                          key_col: str = "author_id",
                          gap: str = "30 minutes",
                          watermark: str = "1 hour") -> DataFrame:
    """Per-key session aggregation on the BUILT-IN ``session_window`` —
    the declarative twin of the custom ``streaming/stateful.py``
    sessionizer (applyInPandasWithState).

    Both paths exist deliberately: session_window keeps the whole operator
    JVM-side (merging session state inside the streaming aggregation — no
    Python crossing, watermark evicts closed sessions), while the stateful
    Python path is the template for session logic Spark can't express
    (per-session ML features, custom timeout policies). Prefer this one
    whenever plain gap-merge semantics suffice.

    Output: one row per closed session (append mode) — key, session span,
    event count.
    """
    if events.isStreaming and not _has_watermark(events):
        events = events.withWatermark(ts_col, watermark)
    return (
        events
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"),
                 F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col(key_col),
                F.col("s.start").alias("session_start"),
                F.col("s.end").alias("session_end"),
                "n_events")
    )


#: State-store partition count for the availableNow DRAINS below. A
#: stateful streaming aggregation opens/commits one state store per shuffle
#: partition EVERY micro-batch, and the count is frozen into the checkpoint
#: at stream birth — so it is a state-VOLUME dial, not a cluster-width one
#: (production sizes it to state bytes / target partition size; it cannot
#: ride `spark.sql.shuffle.partitions` scaled to cores without paying
#: per-batch store open/commit/snapshot I/O on mostly-empty stores forever).
#: The drains here run bounded-cardinality complete-mode aggregates (3 –
#: ~3.4k groups at the gate SFs), where 8 stores are already generous;
#: override via env for a production-sized state.
STREAM_STATE_PARTITIONS = int(os.environ.get(
    "SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8"))


def _drain_available_now(spark: SparkSession, writer) -> None:
    """Start an availableNow drain with the state-partition dial applied
    and the session conf restored afterwards (the stream clones the session
    conf at start, so the override never leaks into later batch queries).

    THREAD-SAFETY CONTRACT (r9 verdict #3): the dial briefly mutates the
    session-global ``spark.sql.shuffle.partitions`` because a streaming
    aggregation freezes its state-partition count from the session conf at
    stream START — there is no per-writer conf to scope it to. A batch
    query PLANNED inside this window picks up the dial's count for its own
    shuffles: never a correctness issue (partition count does not change
    any result), only task width. The engine's own concurrent callers
    (the drain+batch-arm overlaps in streaming_rolling_distinct_hll /
    streaming_heavy_hitters, guide §2.6) accept that deliberately — their
    overlapped arms are small exact aggregates where width is immaterial.
    External callers planning width-sensitive batch work concurrently with
    a drain should snapshot/re-set the conf themselves."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(STREAM_STATE_PARTITIONS))
    try:
        run_available_now(writer)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def drain_stream_to_df(streaming_df: DataFrame,
                       name_prefix: str = "drain") -> DataFrame:
    """Run a (complete-mode) streaming aggregation to exhaustion with an
    availableNow trigger into a memory sink and return the FINAL table as
    a plain batch DataFrame — the harness that lets the DuckDB oracle
    verify a streaming computation's output. The memory-sink temp view is
    dropped before returning (the result is detached via collect —
    complete-mode outputs are bounded by construction), so repeated
    invocations leave no driver-resident state behind."""
    import uuid

    spark = streaming_df.sparkSession
    sink = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    _drain_available_now(
        spark,
        streaming_df.writeStream.format("memory").queryName(sink)
        .outputMode("complete"))
    table = spark.table(sink)
    rows = table.collect()
    spark.catalog.dropTempView(sink)
    # ONE partition, not defaultParallelism: the collected result is a
    # bounded aggregate (a handful of rows); bare createDataFrame would
    # re-scatter it across |cores| near-empty partitions and every
    # downstream action would then schedule a full wave of empty tasks
    # (32 tasks to sort 3 rows — guide §2.6's idle-capacity tax, measured
    # ~0.5 s/wave at local[32]).
    if rows:
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), table.schema)
    return spark.createDataFrame([], table.schema)


def drain_stream_to_parquet(streaming_df: DataFrame,
                            name_prefix: str = "drain") -> DataFrame:
    """Distributed drain for a complete-mode streaming aggregation: run to
    exhaustion with an availableNow trigger, ``foreachBatch``-overwriting a
    parquet directory with each micro-batch's full result (complete mode ⇒
    the last batch IS the final table), then read the directory back and
    ``localCheckpoint`` so the temp files can be deleted immediately.

    This is the harness to use when the aggregation's group cardinality
    grows with the data (hour×type rollups over long spans): the result
    never lands on the driver — the memory-sink + collect path
    (``drain_stream_to_df``) stays for aggregates bounded by construction
    (3-5 row summaries), where a parquet round-trip is pure overhead.
    """
    spark = streaming_df.sparkSession
    with tempfile.TemporaryDirectory(prefix=f"{name_prefix}_",
                                     ignore_cleanup_errors=True) as out_dir:

        def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(out_dir)

        _drain_available_now(
            spark,
            streaming_df.writeStream.foreachBatch(write_batch)
            .outputMode("complete"))
        if not any(f.endswith(".parquet") for f in os.listdir(out_dir)):
            # zero micro-batches fired (empty source): an empty result with
            # the declared schema, never a schema-inference crash
            return spark.createDataFrame([], streaming_df.schema)
        # eager checkpoint materializes the blocks so the directory can go
        return spark.read.parquet(out_dir).localCheckpoint(eager=True)


def drain_through_store(prefix: str,
                        sink: Callable[[str], DataStreamWriter],
                        read: Callable[[str], DataFrame]) -> DataFrame:
    """Drain a store-backed streaming sink into a scratch root and return
    what ``read`` makes of the store: ``sink(root)`` builds the writer
    (store and checkpoint under ``root``), ``run_available_now`` drains it,
    and ``read(root)`` is checkpointed EAGERLY — the blocks must be
    materialized before the root is deleted, or a later action would read
    files that are gone. The root is deleted whether the drain succeeds or
    raises."""
    with tempfile.TemporaryDirectory(prefix=prefix,
                                     ignore_cleanup_errors=True) as root:
        run_available_now(sink(root))
        return read(root).localCheckpoint(eager=True)
