"""SentimentEngine — the reference's Flask surface as a library facade.

One method per endpoint (sentiment_analysis.py:575-715), so a user of the
reference switches call-for-call:

| reference endpoint            | here                                  |
|---|---|
| ``POST /analyze``             | ``analyze(texts)``                    |
| ``POST /store``               | ``store(df)`` (idempotent, keyed)     |
| ``GET /summary?hours=``       | ``summary(hours=)``                   |
| ``GET /tweets?limit=&sentiment=`` | ``recent(limit=, sentiment=)``    |
| ``GET /export?format=&hours=``| ``export(path, fmt=, hours=)``        |
| ``GET /health``               | ``health()``                          |

Differences are the documented intent-fixes from SURVEY §2: `/store` here
actually persists (the reference's INSERT had a column-count bug, S6),
``vader_neutral`` exists, time predicates bind (P5), and the whole scoring
pipeline runs in-process as Column algebra instead of two HTTP hops.

The store is a keyed parquet directory (swap for Delta/Iceberg MERGE or
JDBC in production — ``sources/export.py``). All reads are lazy DataFrames;
serving layers (REST, notebooks) collect at the edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.sentiment import sentiment_enrich
from .sources.layout import absent_rows


class SentimentEngine:
    """Batch facade over a keyed tweet store at ``store_path``."""

    def __init__(self, spark: SparkSession, store_path: str,
                 key_col: str = "tweet_id"):
        self.spark = spark
        self.store_path = store_path
        self.key_col = key_col

    # -- POST /analyze (sentiment_analysis.py:578-593) ----------------------
    def analyze(self, texts: list[str] | DataFrame,
                text_col: str = "text") -> DataFrame:
        """Score text(s): clean → model scores → ensemble (U1–U5), one
        declarative plan, no RPC. Accepts a list of strings or any
        DataFrame with ``text_col``."""
        if isinstance(texts, DataFrame):
            df = texts
        else:
            df = self.spark.createDataFrame(
                [(t,) for t in texts], f"{text_col} string")
        return sentiment_enrich(df, text_col=text_col)

    # -- POST /store (sentiment_analysis.py:595-615, S6/D2) -----------------
    def store(self, tweets: DataFrame, text_col: str = "text") -> int:
        """Score and persist insert-if-absent on the key column (the
        reference's INSERT OR IGNORE intent). Returns rows actually added.
        Requires ``key_col`` and a ``processed_at`` timestamp column (added
        as now() if missing)."""
        enriched = sentiment_enrich(tweets, text_col=text_col)
        if "processed_at" not in enriched.columns:
            enriched = enriched.withColumn(
                "processed_at",
                F.current_timestamp().cast("timestamp_ntz"))
        fresh = absent_rows(enriched, self.store_path, self.key_col)
        added = fresh.count()
        if added:
            fresh.write.mode("append").parquet(self.store_path)
        return added

    def _table(self) -> DataFrame:
        return self.spark.read.parquet(self.store_path)

    def _trailing(self, hours: int | None) -> DataFrame:
        df = self._table()
        if hours is None:
            return df
        # anchored to max(processed_at): deterministic, data-relative (P5)
        anchor = df.agg(F.max("processed_at").alias("mx"))
        return df.join(F.broadcast(anchor)).filter(
            F.col("processed_at")
            >= F.col("mx") - F.expr(f"INTERVAL {int(hours)} HOURS")
        ).drop("mx")

    # -- GET /summary (A1+A2, sentiment_analysis.py:450-519) ----------------
    def summary(self, hours: int | None = 24) -> DataFrame:
        return (
            self._trailing(hours)
            .groupBy("final_sentiment")
            .agg(
                F.count(F.lit(1)).alias("tweet_count"),
                F.coalesce(F.round(F.avg("confidence_score"), 4), F.lit(0.0))
                 .alias("avg_confidence"),
            )
            .orderBy(F.desc("tweet_count"), F.asc("final_sentiment"))
        )

    # -- GET /tweets (O1+P4, sentiment_analysis.py:521-573) -----------------
    def recent(self, limit: int = 50,
               sentiment: str | None = None) -> DataFrame:
        df = self._table()
        if sentiment is not None:
            df = df.filter(F.col("final_sentiment") == sentiment)
        return df.orderBy(
            F.desc("processed_at"), F.asc(self.key_col)).limit(limit)

    # -- GET /export (S8/O3, sentiment_analysis.py:668-715) -----------------
    def export(self, path: str, fmt: str = "csv",
               hours: int | None = 24) -> None:
        df = self._trailing(hours).orderBy(F.desc("processed_at"))
        if fmt == "csv":
            df.write.mode("overwrite").option("header", True).csv(path)
        elif fmt == "json":
            df.write.mode("overwrite").json(path)
        else:
            raise ValueError(f"unsupported export format: {fmt!r}")

    # -- raw SQL passthrough ------------------------------------------------
    def sql(self, query: str, view_name: str = "tweets") -> DataFrame:
        """Run arbitrary SQL with the store registered as ``tweets``.

        The reference's whole query layer is literal SQL strings against a
        ``tweets`` table (sentiment_analysis.py:456-482, :530-559, :676-691)
        — this is the migration path for any ad-hoc query not covered by
        the named endpoints: same table name, same columns, executed by
        Catalyst instead of SQLite.
        """
        self._table().createOrReplaceTempView(view_name)
        return self.spark.sql(query)

    # -- GET /health (sentiment_analysis.py:657-666) ------------------------
    def health(self) -> dict:
        try:
            n = self._table().count()
            store = "connected"
        except Exception:
            n, store = 0, "empty"
        return {
            "status": "healthy",
            "database": store,
            "stored_tweets": n,
            "spark_version": self.spark.version,
        }
