"""SparkSession factory tuned for this engine.

The driver harness passes its own SparkSession into ``__spark_entry__.entry``;
this factory is for tests, bench.py, and standalone use. Config choices are
scale-oriented: AQE on (runtime coalesce + skew-join splitting), Arrow for any
pandas exchange, and a shuffle-partition count sized for the local[32] test
rig (on a real cluster you'd size it to ~2-3x total cores or rely on AQE
coalescing from a higher initial number).

``run_concurrently`` is the one way engine code runs independent actions
as concurrent jobs.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "social-media-sentiment-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults favor the declarative path: adaptive execution, broadcast joins
    for small dims, vectorized parquet reads, Arrow-batched Python exchange.
    """
    # Python UDF workers (pandas UDFs, mapInPandas) import this package by
    # name in their own processes and inherit PYTHONPATH from the JVM env —
    # export the repo root BEFORE the JVM starts so the engine works from
    # any cwd, not just the repo checkout. (Sessions we don't create are
    # covered by __spark_entry__._ship_package via addPyFile.)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo_root not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + os.pathsep + os.environ["PYTHONPATH"]
            if os.environ.get("PYTHONPATH") else repo_root)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def run_concurrently(*thunks: Callable[[], Any]) -> list:
    """Run each zero-argument thunk on its own pool thread, so independent
    Spark actions run as concurrent jobs (guide §2.6 — actions are only
    sequential because driver code calls them sequentially), and return the
    results in argument order.

    Every arm runs under ``inheritable_thread_target`` given the active
    session: under pinned-thread mode the pool thread inherits the
    caller's JVM-thread-local properties (job group / description /
    scheduler pool) and its session tags, so a harness-level job-group
    cancel, ``interruptTag`` or pool assignment covers every arm. An
    arm's exception is re-raised here once all arms have finished.
    With pinned-thread mode off (``PYSPARK_PIN_THREAD=false``) PySpark
    returns the session itself instead of a wrapper — there is no
    per-thread JVM state to carry — and the arms run unwrapped.
    """
    session = SparkSession.active()
    wrap = inheritable_thread_target(session)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t if wrap is session else wrap(t))
                   for t in thunks]
        return [f.result() for f in futures]
