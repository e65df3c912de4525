"""Custom stateful streaming operator: per-key running totals with
TTL-bounded state via ``transformWithStateInPandas`` (state API v2).

This is the engine's one hand-written stateful operator, kept because no
built-in has its state policy: an idle key's state expires by TTL instead
of waiting on an event-time watermark. Gap-merge sessionization needs no
such operator — ``operators/temporal.py::session_rollup``'s built-in
``session_window`` runs unchanged on a watermarked stream.

Arrow moves each group's rows as pandas batches, so the Python hop is
per-group-per-batch, not per-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

RUNNING_OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double"
)


def _build_running_totals_processor():
    """Processor factory (deferred import: the v2 API needs the RocksDB
    state store, so plain imports of this module must not require it).

    State: one ValueState row per user — (n_events, total_value) — with a
    TTL so idle keys expire instead of accumulating forever (the state-v2
    replacement for hand-rolled timeout bookkeeping; the reference's
    analogue was wholesale-clearing a 10k-entry set,
    twitter_producer.py:202-205). Emits the updated running totals for
    every key seen in the micro-batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    class RunningTotalsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType([
                StructField("n", LongType(), True),
                StructField("total", DoubleType(), True),
            ])
            self._state = handle.getValueState(
                "totals", schema, ttlDurationMs=24 * 3600 * 1000)

        def handleInputRows(self, key, rows, timerValues):
            n, total = 0, 0.0
            if self._state.exists():
                n, total = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n],
                 "total_value": [round(total, 4)]})

        def close(self) -> None:
            pass

    return RunningTotalsProcessor()


def running_totals_stream(events: DataFrame) -> DataFrame:
    """Per-user running (n_events, total_value) via the state API v2.

    Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass=...RocksDBStateStoreProvider``
    on the writeStream conf) — the provider that makes huge keyspaces
    viable at scale (incremental checkpointing, off-heap, changelog).
    """
    return (
        events.groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_build_running_totals_processor(),
            outputStructType=RUNNING_OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="processingTime",
        )
    )
