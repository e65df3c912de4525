"""Per-layer metrics of a traced run.

Three sources, all recorded from the benchmark's side of the engine's
public functions:

- spans around each public call in the traced rounds (plan vs action);
- the Spark event log, cut into the traced rounds' time windows;
- a layer probe on the seeded envelope backlog: the pipeline's prefixes
  materialised as static frames (parse, then + scoring, then + dedup), whose
  differences give each layer's self time, and the ``StreamingQueryProgress``
  of availableNow drains of the same backlog into the idempotent sink;
- an api probe: one pass of the SentimentEngine call mix on a small seeded
  store, after one untimed pass.

Every traced run measures every metric here, whatever its workload.
"""

from __future__ import annotations

import os
import time

from perfbench.harness import event_log_counters, median

PREFIX_REPS = 2

UNITS = {
    "trace.overhead_ratio": "ratio",
    "pipeline.parse_s": "s",
    "sentiment.enrich_s": "s",
    "pipeline.dedup_s": "s",
    "pipeline.rejected_ratio": "ratio",
    "sentiment.python_bytes": "bytes",
    "stream.query_planning_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "state.rows_total": "count",
    "state.commit_ms_p50": "ms",
    "state.memory_bytes": "bytes",
    "sinks.written_ratio": "ratio",
    "sinks.store_files": "count",
    "api.round_s": "s",
    "api.read_s": "s",
    "api.store_s": "s",
    "round.plan_s": "s",
    "round.action_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.python_bytes": "bytes",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefix_probe(ctx, backlog: str) -> dict:
    """Time the pipeline's prefixes on ``backlog`` read as a static frame.
    Returns median seconds per prefix, the rejected share and the wall
    windows of the scoring prefix (for its Python-exchange bytes)."""
    from pyspark.sql import functions as F

    from social_media_sentiment_analysis_spark.functions.sentiment import (
        sentiment_enrich)
    from social_media_sentiment_analysis_spark.streaming.pipeline import (
        enrich_tweet_stream, flatten_envelope, parse_envelopes)

    raw = ctx.spark.read.text(backlog)
    good, rejects = parse_envelopes(raw)
    # the scoring prefix keeps enrich_tweet_stream's own row filter, so the
    # only step the full pipeline adds on top of it is the dedup
    scored = sentiment_enrich(flatten_envelope(good), text_col="tweet_text") \
        .filter((F.col("language") == "en")
                & (F.trim(F.col("cleaned_text")) != ""))
    prefixes = {"parse": good, "enrich": scored,
                "dedup": enrich_tweet_stream(good)}
    times: dict[str, list[float]] = {k: [] for k in prefixes}
    enrich_windows = []
    for _ in range(PREFIX_REPS):
        for name, df in prefixes.items():
            with ctx.tracer.span("probe.prefix." + name):
                start, t0 = time.time(), time.perf_counter()
                _noop(df)
                secs = time.perf_counter() - t0
            times[name].append(secs)
            if name == "enrich":
                enrich_windows.append((start, start + secs))
    total = raw.count()
    return {"times": {k: median(v) for k, v in times.items()},
            "rejected_ratio": rejects.count() / total if total else 0.0,
            "enrich_windows": enrich_windows}


def api_probe(ctx):
    """One untimed and one traced pass of the call mix. Returns the api
    metrics, the traced pass as a round, and its failed checks."""
    from perfbench.workloads import Serve

    serve = Serve()
    serve.prepare(ctx, os.path.join(ctx.work, "api_probe"))
    serve.round(ctx)
    first = len(ctx.tracer.spans)
    r, bad = serve.round(ctx)
    calls = {s["name"]: s["dur_s"] for s in ctx.tracer.spans[first:]
             if s.get("kind") != "plan"}
    return {"api.round_s": r.seconds,
            "api.read_s": sum(v for k, v in calls.items()
                              if k not in ("api.store", "api.export_csv")),
            "api.store_s": calls["api.store"]}, r, [
        "api probe: " + b for b in bad]


def drain_metrics(progress: list[dict], stores: list[str], spark) -> dict:
    """Streaming coordination, state and sink figures of the backlog
    drains: medians over data micro-batches, store size and file count."""
    from perfbench.workloads import data_batches

    batches = data_batches(progress)

    def dur(key):
        return median(p["durationMs"].get(key, 0) for p in batches)

    state = [op for p in batches for op in p.get("stateOperators", ())]
    source_rows = sum(p["numInputRows"] for p in batches)
    written = sum(spark.read.parquet(s).count() for s in stores)
    files = [sum(f.endswith(".parquet") for f in os.listdir(s))
             for s in stores]
    return {
        "stream.query_planning_ms_p50": dur("queryPlanning"),
        "stream.add_batch_ms_p50": dur("addBatch"),
        "stream.wal_commit_ms_p50": dur("walCommit"),
        "stream.commit_offsets_ms_p50": dur("commitOffsets"),
        "state.rows_total": max((op["numRowsTotal"] for op in state),
                                default=0),
        "state.commit_ms_p50": median(op["commitTimeMs"] for op in state),
        "state.memory_bytes": max((op["memoryUsedBytes"] for op in state),
                                  default=0),
        "sinks.written_ratio": written / source_rows if source_rows else 0.0,
        "sinks.store_files": median(files),
    }


def round_metrics(rounds, tracer, counters: list[dict]) -> dict:
    """Plan vs action time and Spark work per traced round (medians)."""
    plan = []
    for r in rounds:
        end = r.start + r.seconds
        plan.append(sum(s["dur_s"] for s in tracer.spans
                        if s.get("kind") == "plan"
                        and r.start <= s["start"] <= end))
    return {
        "round.plan_s": median(plan),
        "round.action_s": median(r.seconds - p for r, p in zip(rounds, plan)),
        "spark.jobs": median(c["jobs"] for c in counters),
        "spark.tasks": median(c["tasks"] for c in counters),
        "spark.shuffle_bytes": median(c["shuffle_bytes"] for c in counters),
        "spark.python_bytes": median(c["python_bytes"] for c in counters),
    }


def layer_metrics(ctx, log_dir: str, rounds, probe: dict, drain: dict,
                  api: dict, untraced_round_s: float) -> dict:
    windows = [(r.start, r.start + r.seconds) for r in rounds]
    counters = event_log_counters(log_dir, windows + probe["enrich_windows"])
    t = probe["times"]
    out = {
        "trace.overhead_ratio":
            median(r.seconds for r in rounds) / untraced_round_s,
        "pipeline.parse_s": t["parse"],
        "sentiment.enrich_s": t["enrich"] - t["parse"],
        "pipeline.dedup_s": t["dedup"] - t["enrich"],
        "pipeline.rejected_ratio": probe["rejected_ratio"],
        "sentiment.python_bytes": median(
            c["python_bytes"] for c in counters[len(rounds):]),
    }
    out.update(drain)
    out.update(api)
    out.update(round_metrics(rounds, ctx.tracer, counters[:len(rounds)]))
    return out
