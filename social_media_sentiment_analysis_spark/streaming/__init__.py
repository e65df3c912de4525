"""Structured Streaming layer: sources → shared transforms → sinks.

See SURVEY §2.9/§3.2 — the reference's consumer loop, re-expressed as
declarative streaming plans that share the batch Column pipeline.
"""

from .pipeline import (
    enrich_tweet_stream,
    flatten_envelope,
    hourly_rollup_stream,
    parse_envelopes,
    read_kafka_stream,
    read_tweet_file_stream,
    trending_words_stream,
)
from .sinks import (
    cms_sink,
    quarantine_sink,
    fanout_sink,
    read_cms,
    idempotent_parquet_sink,
    jsonl_sink,
    kafka_sink,
    run_available_now,
)

__all__ = [
    "enrich_tweet_stream",
    "flatten_envelope",
    "hourly_rollup_stream",
    "parse_envelopes",
    "read_kafka_stream",
    "read_tweet_file_stream",
    "trending_words_stream",
    "cms_sink",
    "quarantine_sink",
    "fanout_sink",
    "read_cms",
    "idempotent_parquet_sink",
    "jsonl_sink",
    "kafka_sink",
    "run_available_now",
]
