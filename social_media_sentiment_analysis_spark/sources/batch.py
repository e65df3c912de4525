"""Batch IO: parquet readers over the driver's testdata layout.

Scale notes: ``spark.read.parquet`` gives vectorized scans, predicate
pushdown and partition pruning for free; loaders here deliberately return
*lazy* DataFrames (no caching) so Catalyst can prune columns per-query.
At 100 TB the same call pattern works unchanged — partitioning/pruning is a
property of the table layout, not of this code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def target_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on its (Hadoop) filesystem — scheme-aware
    (hdfs://, s3a://, file:), unlike ``os.path.exists``.

    The shared probe for every "is there prior state?" decision (stateful
    sinks, incremental rollup): an absent store is the ONLY read failure
    those paths may treat as first-build; every other error must propagate
    rather than silently reset accumulated state.
    """
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table lazily.

    ``events.ts`` has been observed in two physical encodings across driver
    testdata generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    reader rejects — we read nanos as long and truncate to microseconds,
    matching DuckDB's ns→us truncation) and plain TIMESTAMP(MICROS) (read
    natively). We branch on the *actual* read schema so either generation
    works. The rebuild uses TIMESTAMP_NTZ arithmetic so results are
    independent of the session timezone (parquet ts is wall-clock; LTZ would
    shift under non-UTC drivers and diverge from the TZ-naive DuckDB oracle).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _events_ts_ntz(spark.read.parquet(table_path(sf_dir, name)))
    return spark.read.parquet(table_path(sf_dir, name))


def _events_ts_ntz(events: DataFrame) -> DataFrame:
    """``events`` with ``ts`` as TIMESTAMP_NTZ whichever encoding the file
    has (see ``load_table``): a nanos-as-long ``ts`` is truncated to
    microseconds; a native timestamp passes through unchanged. Branches on
    the frame's schema, which for a file stream is the declared one."""
    if not isinstance(events.schema["ts"].dataType, LongType):
        return events
    return events.withColumn("ts", F.expr(
        "timestampadd(MICROSECOND, ts div 1000, "
        "TIMESTAMP_NTZ '1970-01-01 00:00:00')"))


def spread_scan(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Input-skew guard for compute-heavy map sides (guide §2.5): when a
    scan yields fewer partitions than the session's parallelism — the
    driver's testdata tables are single-row-group parquet FILES, which are
    unsplittable, so every scan-fused projection runs in ONE task — spread
    the rows with a round-robin repartition so the expensive per-row work
    (shingling, per-doc entropy folds, hashing) uses every core.

    Scale-adaptive by construction: on a production many-file layout the
    scan already carries >= the session's partitions and this is a NO-OP —
    no exchange is added at 100 TB, where re-shuffling raw input would be
    the bug. The check reads the physical scan's partition count (no job
    is triggered). Only apply where the downstream pipeline has no keyed
    exchange that could simply be issued earlier (the winnowing /
    jaccard-block recipe); a keyed exchange moved before the heavy
    projection is strictly better because it also serves the join/window.
    """
    sess_parts = parts or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() >= max(2, sess_parts // 2):
        return df
    return df.repartition(sess_parts)


def read_evolving(spark: SparkSession, path: str,
                  target_schema=None) -> DataFrame:
    """Schema-evolution-tolerant parquet read: a directory whose files were
    written under DIFFERENT schema versions (columns added over time) reads
    as their union via ``mergeSchema`` — old files yield NULL for columns
    they predate. With ``target_schema`` the result is then normalized:
    missing columns added as typed NULLs, extras dropped, order fixed —
    the contract a long-lived 100 TB table needs so v1 readers keep working
    while v2 writers roll out. (Incompatible type CHANGES for an existing
    column are a hard error by design — that migration is a rewrite, not a
    read-time patch.)
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if target_schema is None:
        return df
    cols = []
    for field in target_schema.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType)
                        .alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def load_table_stream(spark: SparkSession, sf_dir: str,
                      name: str) -> DataFrame:
    """A testdata table as a FILE STREAM (micro-batched parquet source) —
    the batch/stream parity entry point: identical schema (and, for
    ``events``, the same NTZ timestamp rebuild) as ``load_table``, so every
    batch transform composes unchanged onto the stream. Used by the
    oracle-checked streaming queries (the driver verifies the streaming
    path's OUTPUT against plain SQL over the same parquet).
    """
    import shutil
    import tempfile

    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    raw_schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # a Spark-written table IS a directory of part files — the file
        # stream watches it directly (this is the production shape; the
        # round-4 scale probe exposed that routing a directory through the
        # single-file staging shim below made the stream list ZERO files
        # and silently emit an empty result through complete-mode sinks)
        df = spark.readStream.schema(raw_schema).format("parquet").load(path)
    else:
        # the file-stream source monitors a DIRECTORY; the driver's testdata
        # table is a single FILE, so expose it through a per-path staging
        # dir (symlink where the filesystem allows, copy otherwise) — at
        # production scale the source watches the ingest directory directly
        # and this shim disappears
        stage = os.path.join(
            tempfile.gettempdir(),
            "spark_stream_" + sf_dir.strip("/").replace("/", "_") + "_" + name)
        link = os.path.join(stage, f"{name}.parquet")
        os.makedirs(stage, exist_ok=True)
        # a symlink always reflects the current source; a fallback COPY must
        # be refreshed when the source file changes, or the stream would
        # silently read stale data while the batch oracle reads the new file
        src_stat = os.stat(path)
        if os.path.islink(link):
            pass
        elif (not os.path.exists(link)
              or os.stat(link).st_size != src_stat.st_size
              or os.stat(link).st_mtime < src_stat.st_mtime):
            try:
                if os.path.exists(link):
                    os.remove(link)
                os.symlink(path, link)
            except OSError:
                shutil.copyfile(path, link)
        df = spark.readStream.schema(raw_schema).format("parquet").load(stage)
    return _events_ts_ntz(df) if name == "events" else df
