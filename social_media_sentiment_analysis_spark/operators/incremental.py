"""Incremental materialized-aggregate maintenance (batch).

The warehouse feature the reference's `sentiment_summary` table gestures at
(sentiment_analysis.py:184-193: a summary table it never actually refreshes):
keep a persisted rollup current as new facts arrive WITHOUT recomputing
history. Works for any algebraic aggregate — one whose partial states merge
(count/sum/min/max, and avg carried as sum+count) — by storing the partial
state per partition key and combining states on refresh.

Scale story: a day of new facts touches only its own day partitions; the
refresh reads the EXISTING state for exactly those days (partition-pruned
scan), merges, and dynamic-partition-overwrites just the touched partitions.
Cost is O(new data + touched state), never O(history). This is the batch
twin of ``streaming/sinks.py::upsert_parquet_sink`` (same merge, driven by
micro-batches) and composes with ``sources/layout.py::write_version`` for
snapshot-on-refresh.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.batch import target_exists
from ..sources.layout import overwrite_partitions

# mergeable state columns of the daily rollup
_STATE = ["n_events", "sum_value", "min_value", "max_value"]


def daily_rollup_state(events: DataFrame) -> DataFrame:
    """(day, event_type) mergeable aggregate state from raw events.

    avg is NOT stored — it derives from sum/count at read time, which is
    what keeps the state mergeable.
    """
    return (
        events.groupBy(
            F.to_date("ts").alias("day"),
            "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"),
             F.min("value").alias("min_value"),
             F.max("value").alias("max_value"))
    )


def _merge_states(a: DataFrame, b: DataFrame) -> DataFrame:
    return (
        a.unionByName(b)
        .groupBy("day", "event_type")
        .agg(F.sum("n_events").alias("n_events"),
             F.sum("sum_value").alias("sum_value"),
             F.min("min_value").alias("min_value"),
             F.max("max_value").alias("max_value"))
    )


def refresh_daily_rollup(spark: SparkSession, path: str,
                         new_events: DataFrame) -> list[str]:
    """Merge a batch of new events into the persisted day-partitioned
    rollup at ``path``; returns the ISO days whose partitions were
    rewritten. Untouched day partitions are not read or written.
    """
    delta = daily_rollup_state(new_events).cache()
    touched = [r.day.isoformat() for r in
               delta.select("day").distinct().collect()]
    # Probe for a prior build explicitly (scheme-aware Hadoop FS — works on
    # hdfs://, s3a://, local): only a genuinely-absent store means "delta is
    # the whole state". Any other read failure (corrupt footer, permissions,
    # transient FS error) must propagate — treating it as first-build would
    # overwrite the touched days with delta-only state and permanently lose
    # the accumulated counts.
    if target_exists(spark, path):
        existing = (spark.read.parquet(path)
                    .filter(F.col("day").isin(touched)))
        merged = _merge_states(existing.select("day", "event_type", *_STATE),
                               delta)
    else:  # first build: nothing persisted yet
        merged = delta
    overwrite_partitions(merged.select("event_type", *_STATE, "day"), path,
                         ("day",))
    delta.unpersist()
    return sorted(touched)


def read_daily_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Current rollup with derived (non-stored) averages."""
    return (
        spark.read.parquet(path)
        .withColumn("avg_value", F.col("sum_value") / F.col("n_events"))
    )
