"""Workloads and the serve call mix. Each prepares seeded inputs, warms
up, runs timed rounds through the engine's public functions only, and checks
its outputs outside the timed region.

- ``ingest``: drain a fixed JSONL envelope backlog through
  parse_envelopes → enrich_tweet_stream → idempotent_parquet_sink.
- ``curate``: a fixed list of registry queries, each forced with a noop
  write.
- ``Serve``: one client running a fixed SentimentEngine call mix. It is not
  a timed workload (see README.md); traced runs use it as the api probe.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.harness import Tracer


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    size: str
    tracer: Tracer


@dataclass
class Round:
    start: float                 # wall clock, seconds since the epoch
    seconds: float
    items: int                   # envelopes, calls or queries completed
    ops: int                     # operations attempted in the round
    batches: list[float] = field(default_factory=list)
    failed: int = 0
    store: str | None = None     # the keyed store an ingest round wrote


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

BACKLOGS = {"full": gen.BacklogSpec(files=4, lines_per_file=500),
            "tiny": gen.BacklogSpec(files=2, lines_per_file=40)}


def drain_backlog(ctx: Ctx, backlog: str, out_dir: str):
    """One availableNow drain of ``backlog`` (one file per micro-batch)
    into a fresh keyed store. Returns the finished query and the store."""
    from social_media_sentiment_analysis_spark.streaming.pipeline import (
        enrich_tweet_stream, parse_envelopes)
    from social_media_sentiment_analysis_spark.streaming.sinks import (
        idempotent_parquet_sink, run_available_now)

    store = os.path.join(out_dir, "store")
    with ctx.tracer.span("pipeline.plan", kind="plan"):
        raw = ctx.spark.readStream.option("maxFilesPerTrigger", 1) \
            .text(backlog)
        good, _rejects = parse_envelopes(raw)
        writer = idempotent_parquet_sink(
            enrich_tweet_stream(good), store, os.path.join(out_dir, "ckpt"))
    with ctx.tracer.span("sinks.run_available_now"):
        query = run_available_now(writer)
    return query, store


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def data_batches(progress: list[dict]) -> list[dict]:
    """Micro-batches that read input (the trailing no-data batch that only
    advances the watermark is left out)."""
    return [p for p in progress if p.get("numInputRows", 0) > 0]


class Ingest:
    name = "ingest"

    def prepare(self, ctx: Ctx, path: str) -> None:
        self.backlog = gen.write_backlog(
            os.path.join(path, "backlog"), BACKLOGS[ctx.size], ctx.seed)
        self.progress: list[dict] = []

    def warm(self, ctx: Ctx) -> None:
        """One untimed drain of the whole backlog."""
        out = os.path.join(ctx.work, "warm", str(time.time_ns()))
        drain_backlog(ctx, self.backlog.path, out)
        shutil.rmtree(out, ignore_errors=True)

    def round(self, ctx: Ctx, i: int) -> Round:
        out = os.path.join(ctx.work, "rounds", str(time.time_ns()))
        start, t0 = time.time(), time.perf_counter()
        with ctx.tracer.span("round", index=i):
            query, store = drain_backlog(ctx, self.backlog.path, out)
        secs = time.perf_counter() - t0
        progress = progress_of(query)
        self.progress.extend(progress)
        return Round(start, secs, self.backlog.envelopes, 1,
                     [p["durationMs"]["triggerExecution"] / 1000.0
                      for p in data_batches(progress)],
                     int(query.exception() is not None), store)

    def attach_batches(self, rounds: list[Round]) -> None:
        """Ingest rounds carry their micro-batches already."""

    def gate(self, ctx: Ctx, rounds: list[Round]) -> list[str]:
        """Each drained store has unique keys and the same (id, label) set
        as the batch form of the same pipeline over the same backlog."""
        from social_media_sentiment_analysis_spark.streaming.pipeline import (
            enrich_tweet_stream, parse_envelopes)
        from pyspark.sql import functions as F

        good, _ = parse_envelopes(ctx.spark.read.text(self.backlog.path))
        expected = enrich_tweet_stream(good) \
            .select("tweet_id", "final_sentiment").localCheckpoint()
        problems = []
        for i, r in enumerate(rounds):
            if r.store is None:
                continue
            got = ctx.spark.read.parquet(r.store) \
                .select("tweet_id", "final_sentiment")
            n, keys = got.agg(F.count(F.lit(1)),
                              F.countDistinct("tweet_id")).first()
            if n != keys:
                problems.append(f"round {i}: {n - keys} duplicate keys")
                r.failed = 1
            extra = got.exceptAll(expected).count()
            missing = expected.exceptAll(got).count()
            if extra or missing:
                problems.append(f"round {i}: {extra} unexpected and "
                                f"{missing} missing (id, label) rows")
                r.failed = 1
        return problems


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

SERVE_SIZES = {"full": (2000, 200), "tiny": (400, 40)}
STORED_SHARE = 0.3   # share of the fresh batch whose ids are already stored
SERVE_SQL = ("SELECT author_id, count(*) AS n, "
             "round(avg(confidence_score), 4) AS avg_conf FROM tweets "
             "GROUP BY author_id ORDER BY n DESC, author_id LIMIT 20")


class Serve:
    """One client's SentimentEngine call mix against a store built through
    ``store()``; each pass starts from a copy of that store."""

    def prepare(self, ctx: Ctx, path: str) -> None:
        from social_media_sentiment_analysis_spark.api import SentimentEngine

        base_rows, fresh_rows = SERVE_SIZES[ctx.size]
        self.inputs = gen.write_serve_inputs(
            os.path.join(path, "in"), base_rows, fresh_rows, STORED_SHARE,
            ctx.seed)
        self.pristine = os.path.join(path, "store")
        self.setup_added = SentimentEngine(ctx.spark, self.pristine).store(
            ctx.spark.read.parquet(self.inputs.base_path))
        self.live = os.path.join(ctx.work, "live_store")
        self.export_dir = os.path.join(ctx.work, "export")

    def _call(self, ctx: Ctx, name: str, fn, lazy: bool):
        """One engine call; a ``lazy`` call returns a DataFrame, which is
        collected, and gets separate plan and action spans."""
        with ctx.tracer.span("api." + name):
            if not lazy:
                return fn()
            with ctx.tracer.span(f"api.{name}.plan", kind="plan"):
                df = fn()
            return df.collect()

    def round(self, ctx: Ctx) -> tuple[Round, list[str]]:
        from social_media_sentiment_analysis_spark.api import SentimentEngine

        shutil.rmtree(self.live, ignore_errors=True)     # untimed reset
        shutil.copytree(self.pristine, self.live)
        fresh = ctx.spark.read.parquet(self.inputs.fresh_path)
        eng = SentimentEngine(ctx.spark, self.live)
        calls = [
            ("summary_24h", lambda: eng.summary(24), True),
            ("summary_all", lambda: eng.summary(None), True),
            ("recent", lambda: eng.recent(50), True),
            ("recent_negative", lambda: eng.recent(50, "negative"), True),
            ("sql", lambda: eng.sql(SERVE_SQL), True),
            ("health", eng.health, False),
            ("export_csv", lambda: eng.export(self.export_dir, "csv"), False),
            ("store", lambda: eng.store(fresh), False),
        ]
        start, t0 = time.time(), time.perf_counter()
        out = {name: self._call(ctx, name, fn, lazy)
               for name, fn, lazy in calls}
        secs = time.perf_counter() - t0
        bad = self.check(out)
        return Round(start, secs, len(calls), len(calls), failed=len(bad)), bad

    def check(self, out: dict) -> list[str]:
        n = self.inputs.base_rows
        bad = []
        if self.setup_added != n:
            bad.append(f"set-up store() added {self.setup_added} of {n} rows")
        if sum(r["tweet_count"] for r in out["summary_all"]) != n:
            bad.append("summary(None) counts do not sum to the store size")
        if not 0 < sum(r["tweet_count"] for r in out["summary_24h"]) < n:
            bad.append("summary(24) is not a proper subset of the store")
        recent = [r["processed_at"] for r in out["recent"]]
        if len(recent) != 50 or recent != sorted(recent, reverse=True):
            bad.append("recent(50) is not the 50 newest rows")
        neg = out["recent_negative"]
        if not neg or any(r["final_sentiment"] != "negative" for r in neg):
            bad.append("recent(50, 'negative') returned other labels")
        if not 0 < len(out["sql"]) <= 20:
            bad.append("sql() returned no rows")
        if out["health"].get("stored_tweets") != n:
            bad.append("health() store size is wrong")
        if not any(f.endswith(".csv") for f in os.listdir(self.export_dir)):
            bad.append("export() wrote no csv part")
        if out["store"] != self.inputs.fresh_new_ids:
            bad.append(f"store() added {out['store']}, expected "
                       f"{self.inputs.fresh_new_ids}")
        return bad


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

CURATE_QUERIES = {
    "full": [
        "dedup_exact",                  # operators/dedup
        "knn_bruteforce",               # operators/similarity
        "word_embeddings",              # ml/word2vec
        "returnflag_priority_counts",   # queries/star (fact-fact join)
        "streaming_heavy_hitters",      # availableNow drain + cms sink
    ],
    "tiny": ["returnflag_priority_counts", "streaming_heavy_hitters"],
}
TABLE_SCALES = {"full": "sf0.1", "tiny": "sf0.01"}


class Curate:
    name = "curate"

    def prepare(self, ctx: Ctx, path: str) -> None:
        self.names = CURATE_QUERIES[ctx.size]
        self.tables = gen.write_tables(os.path.join(path, "tables"),
                                       gen.ROWS[TABLE_SCALES[ctx.size]],
                                       ctx.seed)
        self.collected: dict = {}
        self.listeners: list = []

    def warm(self, ctx: Ctx) -> None:
        """One pass that collects every result (the gate checks these
        against the oracles after the timed rounds), then a listener on
        this session for the micro-batches of the registry's drains."""
        from social_media_sentiment_analysis_spark.queries.registry import (
            QUERIES)

        for name in self.names:
            self.collected[name] = QUERIES[name].builder(
                ctx.spark, self.tables).toPandas()
        self.listeners.append(progress_listener())
        ctx.spark.streams.addListener(self.listeners[-1])

    def round(self, ctx: Ctx, i: int) -> Round:
        from social_media_sentiment_analysis_spark.queries.registry import (
            QUERIES)

        start = time.time()
        with ctx.tracer.span("round", index=i):
            t0 = time.perf_counter()
            for name in self.names:
                with ctx.tracer.span("queries." + name):
                    with ctx.tracer.span(f"queries.{name}.plan", kind="plan"):
                        df = QUERIES[name].builder(ctx.spark, self.tables)
                    df.write.format("noop").mode("overwrite").save()
            secs = time.perf_counter() - t0
        return Round(start, secs, len(self.names), len(self.names))

    def attach_batches(self, rounds: list[Round]) -> None:
        """Registry drains run inside the builders; their micro-batches
        arrive through the listener and are matched to rounds by time."""
        progress = [p for lst in self.listeners for p in lst.progress]
        for p in data_batches(progress):
            ts = dt.datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp()
            for r in rounds:
                if r.start <= ts <= r.start + r.seconds:
                    r.batches.append(
                        p["durationMs"]["triggerExecution"] / 1000.0)

    def gate(self, ctx: Ctx, rounds: list[Round]) -> list[str]:
        """Each query's collected result matches its oracle SQL on DuckDB
        by row count, column names and an order-insensitive value hash."""
        import duckdb

        from social_media_sentiment_analysis_spark.queries.registry import (
            QUERIES)
        from social_media_sentiment_analysis_spark.schemas import (
            TESTDATA_TABLES)
        from tools.oracle_check import value_hash

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.tables}/{t}.parquet'")
        problems = []
        for name in self.names:
            got = self.collected[name]
            want = con.execute(QUERIES[name].oracle).df()
            if len(got) != len(want):
                why = f"{len(got)} rows, oracle {len(want)}"
            elif sorted(got.columns) != sorted(want.columns):
                why = "column names differ from the oracle"
            elif value_hash(got) != value_hash(want):
                why = "value hash differs from the oracle"
            else:
                continue
            problems.append(f"{name}: {why}")
            for r in rounds:            # every execution of it is wrong
                r.failed += 1
        con.close()
        return problems


def progress_listener():
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


WORKLOADS = {w.name: w for w in (Ingest, Curate)}
