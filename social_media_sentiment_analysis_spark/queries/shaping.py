"""Result-shaping operators: CUBE, PIVOT, exact percentiles, set
operations, and explode/unnest — the remainder of the relational surface a
user migrating off the reference's SQL endpoints
(sentiment_analysis.py:450-715) would expect from a full engine.

All pure built-in DataFrame ops with exact DuckDB oracles.

Scale notes:
- ``pivot`` is given an explicit value list so Spark skips the
  distinct-values pre-query and the output schema is static — mandatory at
  100 TB (the values scan would be a full pass) and for streaming reuse.
- ``cube`` expands each input row into the 4 grouping combinations *after*
  partial aggregation (Expand below partial HashAggregate), so the shuffle
  carries pre-reduced rows, not 4× the fact table.
- Exact percentiles shuffle once on the group key; the per-group sort is
  internal to the ``percentile`` aggregate. For ungrouped/huge groups the
  sketch path (``sketch_profile``, t-digest) is the scale alternative.
- Set ops are distinct-based (hash aggregate on the single projected
  column), not row-by-row — each EXCEPT/INTERSECT is one shuffle of a
  deduplicated, single-column projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.batch import load_table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# ---------------------------------------------------------------------------
# CUBE: all grouping combinations of (event_type, hour-of-day band).
# ---------------------------------------------------------------------------

def q_type_hour_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts cubed over (event_type, 6-hour band): every subtotal in
    one pass. NULL group markers identify subtotal rows (same convention as
    q_priority_rollup)."""
    events = load_table(spark, sf_dir, "events")
    banded = events.withColumn(
        "hour_band", F.floor(F.hour("ts") / F.lit(6)) * 6)
    return (
        banded.cube("event_type", "hour_band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy(
            F.asc_nulls_first("event_type"),
            F.asc_nulls_first("hour_band"),
        )
    )


ORACLE_TYPE_HOUR_CUBE = """
WITH banded AS (
    SELECT event_type,
           (hour(ts) // 6) * 6 AS hour_band,
           value
    FROM events
)
SELECT event_type, hour_band,
       COUNT(*) AS n_events,
       round(SUM(value), 4) AS total_value
FROM banded
GROUP BY CUBE (event_type, hour_band)
ORDER BY event_type ASC NULLS FIRST, hour_band ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# PIVOT: wide daily matrix of event-type counts.
# ---------------------------------------------------------------------------

def q_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per day, one column per event type (explicit value list →
    static schema, no distinct-values pre-pass). Missing cells are 0."""
    events = load_table(spark, sf_dir, "events")
    pivoted = (
        events.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return (
        pivoted.select(
            "day",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
              for t in EVENT_TYPES],
        )
        .orderBy("day")
    )


ORACLE_DAILY_TYPE_PIVOT = """
SELECT date_trunc('day', ts) AS day,
       COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
       COUNT(*) FILTER (WHERE event_type = 'error')    AS n_error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
       COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view
FROM events
GROUP BY 1
ORDER BY day
"""


# ---------------------------------------------------------------------------
# Exact percentiles per group (linear interpolation, both engines).
# ---------------------------------------------------------------------------

def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75/p90 of event value per type. One shuffle on the
    group key; the in-group sort lives inside the percentile aggregate."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.percentile("value", 0.25), 4).alias("p25"),
            F.round(F.percentile("value", 0.5), 4).alias("p50"),
            F.round(F.percentile("value", 0.75), 4).alias("p75"),
            F.round(F.percentile("value", 0.9), 4).alias("p90"),
        )
        .orderBy("event_type")
    )


ORACLE_VALUE_PERCENTILES = """
SELECT event_type,
       COUNT(*) AS n_events,
       round(quantile_cont(value, 0.25), 4) AS p25,
       round(quantile_cont(value, 0.5), 4)  AS p50,
       round(quantile_cont(value, 0.75), 4) AS p75,
       round(quantile_cont(value, 0.9), 4)  AS p90
FROM events
GROUP BY event_type
ORDER BY event_type
"""


_APPROX_PCT_ACC = 1000          # approx_percentile accuracy → ε = 1/acc
_APPROX_PCT_PS = (0.5, 0.95)   # probed quantiles


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile SKETCH with its rank-error contract carried into the
    oracle gate (the heavy_hitters/HLL recipe, third sketch family):
    ``approx_percentile(value, p, accuracy)`` — Spark's
    Greenwald-Khanna-style streaming quantile summary, the structure a
    100 TB percentile job actually uses (exact ``percentile`` holds the
    whole group's values; the sketch is bounded state with map-side
    merge) — probed at p50/p95 per event type.

    The sketch value itself is summary-dependent (no DuckDB twin), so
    the gate pins the GK rank contract: the returned value's RANK must
    lie within 3ε·N of the target rank (ε = 1/accuracy; the single-
    summary theorem is ε, but Spark's distributed implementation MERGES
    per-partition summaries and the merged error exceeds ε by a small
    constant factor — measured ~1.1ε worst-case on this data, pinned at
    3ε so the gate tests the distributed contract that actually holds,
    not the single-node one that doesn't). The rank of the approx value
    is computed EXACTLY on the Spark side (a conditional re-aggregation
    against the returned cut — one extra pass, gate instrumentation
    only) and the twin pins the boolean TRUE; exact percentiles and
    counts ride along value-checked. Any summary-merge bug that
    displaces a quantile flips the boolean and fails the hash.

    Plan: one group exchange for the combined exact+sketch aggregate,
    localCheckpointed — the sketch is NONDETERMINISTIC across
    re-executions (merge order), so the rank check must probe the very
    values the query returns, not a recomputation's; the rank check
    then re-aggregates the fact against the broadcast-back per-type
    cuts (|event types| rows — bounded, lint-legal).
    """
    events = load_table(spark, sf_dir, "events").select("event_type",
                                                        "value")
    eps = 3.0 / _APPROX_PCT_ACC
    agg = (events.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.percentile("value", 0.5), 4).alias("p50_exact"),
                F.round(F.percentile("value", 0.95), 4).alias("p95_exact"),
                F.percentile_approx(
                    "value", list(_APPROX_PCT_PS),
                    _APPROX_PCT_ACC).alias("approx"))
           .localCheckpoint())
    cuts = agg.select("event_type",
                      F.col("approx")[0].alias("c50"),
                      F.col("approx")[1].alias("c95"))
    # no broadcast hint: the checkpointed cuts table is |event types|
    # rows with KNOWN stats, so the planner broadcasts it on its own —
    # and a hint on a checkpointed frame is lint-opaque (LogicalRDD)
    ranks = (events.join(cuts, "event_type")
             .groupBy("event_type")
             .agg(F.count(F.when(F.col("value") <= F.col("c50"), 1))
                  .alias("le50"),
                  F.count(F.when(F.col("value") < F.col("c50"), 1))
                  .alias("lt50"),
                  F.count(F.when(F.col("value") <= F.col("c95"), 1))
                  .alias("le95"),
                  F.count(F.when(F.col("value") < F.col("c95"), 1))
                  .alias("lt95")))

    def ok(p, lt, le):
        # some rank in [lt+1, le] belongs to the returned value; the GK
        # guarantee holds iff that interval meets [(p-ε)N, (p+ε)N]
        lo = (F.lit(p) - eps) * F.col("n_events")
        hi = (F.lit(p) + eps) * F.col("n_events")
        return (F.col(le) >= lo) & (F.col(lt) <= hi)

    return (agg.join(ranks, "event_type")
            .select("event_type", "n_events", "p50_exact", "p95_exact",
                    ok(0.5, "lt50", "le50").alias("p50_within_rank_eps"),
                    ok(0.95, "lt95", "le95").alias("p95_within_rank_eps"))
            .orderBy("event_type"))


ORACLE_QUANTILE_SKETCH = """
SELECT event_type,
       COUNT(*) AS n_events,
       round(quantile_cont(value, 0.5), 4)  AS p50_exact,
       round(quantile_cont(value, 0.95), 4) AS p95_exact,
       TRUE AS p50_within_rank_eps,
       TRUE AS p95_within_rank_eps
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Set operations: cohort overlap via INTERSECT / EXCEPT / UNION.
# ---------------------------------------------------------------------------

def q_cohort_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchaser vs signup cohort sizes: both (INTERSECT), purchase-only
    (EXCEPT), either (UNION) — distinct-based set algebra on a single
    projected key column."""
    events = load_table(spark, sf_dir, "events")
    purchasers = (events.filter(F.col("event_type") == "purchase")
                  .select("user_id"))
    signups = (events.filter(F.col("event_type") == "signup")
               .select("user_id"))
    both = purchasers.intersect(signups)
    purchase_only = purchasers.subtract(signups)
    either = purchasers.union(signups).distinct()
    return (
        both.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit("both").alias("cohort"), "n_users")
        .unionByName(
            purchase_only.agg(F.count(F.lit(1)).alias("n_users"))
            .select(F.lit("purchase_only").alias("cohort"), "n_users"))
        .unionByName(
            either.agg(F.count(F.lit(1)).alias("n_users"))
            .select(F.lit("either").alias("cohort"), "n_users"))
        .orderBy("cohort")
    )


ORACLE_COHORT_OVERLAP = """
WITH purchasers AS (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
), signups AS (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
)
SELECT 'both' AS cohort, COUNT(*) AS n_users
FROM (SELECT user_id FROM purchasers INTERSECT SELECT user_id FROM signups)
UNION ALL
SELECT 'purchase_only', COUNT(*)
FROM (SELECT user_id FROM purchasers EXCEPT SELECT user_id FROM signups)
UNION ALL
SELECT 'either', COUNT(*)
FROM (SELECT user_id FROM purchasers UNION SELECT user_id FROM signups)
ORDER BY cohort
"""


# ---------------------------------------------------------------------------
# Explode/unnest: top-20 word frequency over English documents.
# ---------------------------------------------------------------------------

def q_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 words (≥3 chars) in English documents: lower → regex split →
    explode → hash agg → top-k. ASCII-letter tokenization keeps Java and
    DuckDB regex/casing semantics byte-identical.

    explode is map-side (no shuffle); the only exchange is the word-count
    aggregate, whose partial combine collapses each partition to its
    distinct words before shuffling.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.filter(F.col("lang") == "en")
        .select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"))
        .filter(F.length("word") >= 3)
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("word"))
        .limit(20)
    )


ORACLE_WORD_FREQUENCY = """
WITH words AS (
    SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS word
    FROM documents WHERE lang = 'en'
)
SELECT word, COUNT(*) AS n_occurrences
FROM words
WHERE length(word) >= 3
GROUP BY word
ORDER BY n_occurrences DESC, word ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# GROUPING SETS: independent subtotal lattices in one pass.
# ---------------------------------------------------------------------------

def q_status_priority_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status and per-priority order subtotals — GROUPING SETS
    ((status),(priority)): two independent aggregations in one scan, a shape
    ROLLUP/CUBE can't express (no combined cell, no grand total). Like CUBE,
    the Expand sits above the partial aggregate, so the shuffle carries
    reduced rows."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .orderBy(
            F.asc_nulls_first("o_orderstatus"),
            F.asc_nulls_first("o_orderpriority"),
        )
    )


ORACLE_STATUS_PRIORITY_SETS = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS order_count,
       round(AVG(o_totalprice), 4) AS avg_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# Semi-structured: JSON property extraction (events.props).
# ---------------------------------------------------------------------------

def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON ``props`` column and aggregate by the extracted
    property's decade bucket — schema-on-read over a string column, the
    same from_json/get_json_object path the tweet envelope uses.
    get_json_object is JVM-side (no UDF); at scale prefer materializing the
    parsed column once at ingest over re-parsing per query."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select((F.floor(k / F.lit(10)) * 10).alias("k_decade"),
                      "value")
        .groupBy("k_decade")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("k_decade")
    )


ORACLE_PROPS_EXTRACT = """
SELECT (CAST(json_extract_string(props, '$.k') AS BIGINT) // 10) * 10
           AS k_decade,
       COUNT(*) AS n_events,
       round(AVG(value), 4) AS avg_value
FROM events
GROUP BY 1
ORDER BY k_decade
"""


# ---------------------------------------------------------------------------
# Statistical aggregates: stddev / variance / correlation / arg-extremes.
# ---------------------------------------------------------------------------

def q_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distribution profile: sample stddev/variance, value↔k
    correlation and covariance, conditional counts, and arg-max — the
    statistical aggregate family, all single-pass built-ins (one partial/
    final hash aggregate, no window, no second scan)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("double")
    src = events.select("event_type", "event_id", "value", k.alias("k"))
    return (
        src.groupBy("event_type")
        .agg(
            F.round(F.stddev_samp("value"), 4).alias("value_stddev"),
            F.round(F.var_samp("value"), 4).alias("value_var"),
            F.round(F.corr("value", "k"), 4).alias("value_k_corr"),
            F.round(F.covar_samp("value", "k"), 4).alias("value_k_covar"),
            F.count_if(F.col("value") > 50).alias("n_high_value"),
            F.max_by("event_id", "value").alias("top_value_event"),
        )
        .orderBy("event_type")
    )


ORACLE_STATS_PROFILE = """
SELECT event_type,
       round(stddev_samp(value), 4) AS value_stddev,
       round(var_samp(value), 4) AS value_var,
       round(corr(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)),
             4) AS value_k_corr,
       round(covar_samp(value,
             CAST(json_extract_string(props, '$.k') AS DOUBLE)),
             4) AS value_k_covar,
       COUNT(*) FILTER (WHERE value > 50) AS n_high_value,
       arg_max(event_id, value) AS top_value_event
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Data-quality constraint audit (expectations-as-a-query).
# ---------------------------------------------------------------------------

def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit over the star schema: referential integrity
    (orphan foreign keys via anti join), key uniqueness, and null checks —
    one row per check with violation and total counts. The
    expectations-on-every-load pattern (Deequ-style) as a plain query;
    each check is a single pruned-column pass over its table, unioned into
    one result."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")

    def check(name: str, agg_df):
        return agg_df.select(
            F.lit(name).alias("check"),
            F.col("violations").cast("long").alias("violations"),
            F.col("total").cast("long").alias("total"))

    # orphan checks as left join + count_if: violations AND total in the
    # same single-pass aggregate (an anti-join would need a second scan —
    # or a cartesian of two 1-row aggregates — for the total)
    orphan_orders = check(
        "orders_orphan_custkey",
        orders.join(F.broadcast(customer),
                    orders.o_custkey == customer.c_custkey, "left")
        .agg(F.count_if(F.col("c_custkey").isNull()).alias("violations"),
             F.count(F.lit(1)).alias("total")))
    orphan_lineitems = check(
        "lineitem_orphan_orderkey",
        lineitem.join(orders.select("o_orderkey"),
                      lineitem.l_orderkey == orders.o_orderkey, "left")
        .agg(F.count_if(F.col("o_orderkey").isNull()).alias("violations"),
             F.count(F.lit(1)).alias("total")))
    dup_docs = check(
        "documents_duplicate_doc_id",
        documents.agg(
            (F.count(F.lit(1)) - F.countDistinct("doc_id"))
            .alias("violations"),
            F.count(F.lit(1)).alias("total")))
    null_users = check(
        "events_null_user_id",
        events.agg(F.count_if(F.col("user_id").isNull()).alias("violations"),
                   F.count(F.lit(1)).alias("total")))
    return (
        orphan_orders.unionByName(orphan_lineitems)
        .unionByName(dup_docs).unionByName(null_users)
        .orderBy("check")
    )


ORACLE_INTEGRITY_AUDIT = """
SELECT 'orders_orphan_custkey' AS check,
       (SELECT COUNT(*) FROM orders
        WHERE NOT EXISTS (SELECT 1 FROM customer
                          WHERE c_custkey = o_custkey)) AS violations,
       (SELECT COUNT(*) FROM orders) AS total
UNION ALL
SELECT 'lineitem_orphan_orderkey',
       (SELECT COUNT(*) FROM lineitem
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_orderkey = l_orderkey)),
       (SELECT COUNT(*) FROM lineitem)
UNION ALL
SELECT 'documents_duplicate_doc_id',
       (SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM documents),
       (SELECT COUNT(*) FROM documents)
UNION ALL
SELECT 'events_null_user_id',
       (SELECT COUNT(*) FILTER (WHERE user_id IS NULL) FROM events),
       (SELECT COUNT(*) FROM events)
ORDER BY "check"
"""


# ---------------------------------------------------------------------------
# Fixed-bin histogram.
# ---------------------------------------------------------------------------

def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-value histogram: fixed width-10 bins per event type — binning
    as floor arithmetic (map-side) + one hash aggregate; the distributed
    histogram primitive."""
    events = load_table(spark, sf_dir, "events")
    bin_lo = F.floor(F.col("value") / F.lit(10.0)) * 10
    return (
        events.groupBy("event_type", bin_lo.cast("long").alias("bin_lo"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type", "bin_lo")
    )


ORACLE_VALUE_HISTOGRAM = """
SELECT event_type,
       CAST(FLOOR(value / 10.0) * 10 AS BIGINT) AS bin_lo,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY event_type, bin_lo
"""


# ---------------------------------------------------------------------------
# Winsorized statistics (outlier-robust preprocessing).
# ---------------------------------------------------------------------------

def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: clamp values into [p05, p95]
    (computed exactly per group) and re-aggregate — the outlier-capping
    stage of a feature pipeline. Two passes over a 2-column projection:
    percentile aggregate, broadcast the tiny per-group bounds back, clamp
    with least/greatest (map-side), final aggregate."""
    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = events.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"))
    clamped = (
        events.join(F.broadcast(bounds), "event_type")
        .select(
            "event_type",
            F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
             .alias("v"))
    )
    return (
        clamped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("v"), 4).alias("winsorized_mean"),
            F.round(F.min("v"), 4).alias("winsorized_min"),
            F.round(F.max("v"), 4).alias("winsorized_max"),
        )
        .orderBy("event_type")
    )


ORACLE_WINSORIZED_STATS = """
WITH bounds AS (
    SELECT event_type,
           quantile_cont(value, 0.05) AS p05,
           quantile_cont(value, 0.95) AS p95
    FROM events GROUP BY event_type
), clamped AS (
    SELECT e.event_type,
           LEAST(GREATEST(e.value, b.p05), b.p95) AS v
    FROM events e JOIN bounds b USING (event_type)
)
SELECT event_type,
       COUNT(*) AS n_events,
       round(AVG(v), 4) AS winsorized_mean,
       round(MIN(v), 4) AS winsorized_min,
       round(MAX(v), 4) AS winsorized_max
FROM clamped
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# PII redaction audit: mask digit runs in the raw JSON props payload and
# account for what was removed.
# ---------------------------------------------------------------------------

def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact numeric runs in ``events.props`` (the raw JSON payload — the
    place user identifiers leak) and audit the removal per event type.

    The full scrub chain lives in ``functions.text.redact`` (email / IP /
    phone / SSN / digit-run, ordered specific→general); the testdata's
    props only contain digit runs, so the oracle-checked query pins the
    digit rule — the remaining patterns are pinned by unit tests on
    literal rows (test_text_functions.py).

    One projection + one hash-agg exchange; the regex chain is a single
    codegen stage over the scan, so at 100 TB the cost is the scan itself.
    Redaction-before-shuffle also means masked bytes, not raw PII, are
    what hits the wire and the shuffle spill files — the compliance
    property a scrub pass must have.
    """
    ev = load_table(spark, sf_dir, "events")
    red = ev.select(
        "event_type",
        F.length("props").alias("raw_len"),
        F.regexp_replace("props", r"\d+", "#").alias("redacted"),
    )
    return (
        red.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("raw_len") - F.length("redacted")).alias("chars_removed"),
            F.sum(
                F.length("redacted")
                - F.length(F.replace(F.col("redacted"), F.lit("#"), F.lit("")))
            ).alias("masked_runs"),
        )
        .orderBy("event_type")
    )


ORACLE_PII_REDACT = r"""
WITH red AS (
    SELECT event_type,
           length(props) AS raw_len,
           regexp_replace(props, '\d+', '#', 'g') AS redacted
    FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(raw_len - length(redacted)) AS BIGINT) AS chars_removed,
       CAST(SUM(length(redacted) - length(replace(redacted, '#', ''))) AS BIGINT)
           AS masked_runs
FROM red
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# UNPIVOT: wide → long round-trip (the inverse of q_daily_type_pivot).
# ---------------------------------------------------------------------------

def q_unpivot_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot the daily × type counts wide, then UNPIVOT back to long form.

    Exercises the melt/unpivot operator (Expand node) end to end: the
    oracle is the direct long-form GROUP BY, so the round trip must be
    lossless. Zero cells introduced by the pivot are dropped on the way
    back (they do not exist in the long form). Both pivot and unpivot are
    map-side over the aggregated (tiny) frame — the only shuffle is the
    day×type aggregation itself.
    """
    events = load_table(spark, sf_dir, "events")
    wide = (
        events.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    wide = wide.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t)
                 for t in EVENT_TYPES])
    return (
        wide.unpivot("day", EVENT_TYPES, "event_type", "n_events")
        .filter(F.col("n_events") > 0)
        .orderBy("day", "event_type")
    )


ORACLE_UNPIVOT_DAILY_COUNTS = """
SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


# ---------------------------------------------------------------------------
# Two-stage COUNT(DISTINCT) — skew-safe distinct aggregation as a query.
# ---------------------------------------------------------------------------

def q_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via operators.skew's two-stage dedup.

    Stage 1 shuffles on (event_type, user_id) — a hot event type spreads
    over the full cluster instead of funneling through one reducer — and
    stage 2 counts the deduplicated pairs. Same result as
    COUNT(DISTINCT user_id), skew-safe by construction at 100 TB.
    """
    from ..operators.skew import two_stage_distinct_count

    events = load_table(spark, sf_dir, "events")
    return (
        two_stage_distinct_count(events, "event_type", "user_id")
        .orderBy("event_type")
    )


ORACLE_DISTINCT_USERS_BY_TYPE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_user_id
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Linear-regression aggregates: value drift over time per event type.
# ---------------------------------------------------------------------------

def q_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS slope/intercept/R² of event value against time, per type.

    The regr_* aggregate family (the statistical surface beyond
    stats_profile's moments): computed in one partial/final hash
    aggregate — Spark reduces (n, Σx, Σy, Σxx, Σxy, Σyy) map-side, so the
    shuffle carries six doubles per group regardless of fact size. The
    regressor is whole-second epoch hours, identical on the DuckDB side.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "x_h", F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        / F.lit(3600.0))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.regr_slope("value", "x_h"), 4).alias("slope_per_hour"),
            F.round(F.regr_intercept("value", "x_h"), 4).alias("intercept"),
            F.round(F.regr_r2("value", "x_h"), 4).alias("r2"),
        )
        .orderBy("event_type")
    )


ORACLE_VALUE_TREND = """
WITH ev AS (
    SELECT event_type, value,
           date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) / 3600.0
               AS x_h
    FROM events
)
SELECT event_type, COUNT(*) AS n_events,
       round(regr_slope(value, x_h), 4) AS slope_per_hour,
       round(regr_intercept(value, x_h), 4) AS intercept,
       round(regr_r2(value, x_h), 4) AS r2
FROM ev
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# String aggregation (LISTAGG): sorted distinct collect per group.
# ---------------------------------------------------------------------------

def q_nation_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer profile with a sorted distinct segment roll.

    The collect-to-string family: ``collect_set`` is order-nondeterministic
    by itself, so ``array_sort`` before ``concat_ws`` is what makes the
    result (and the driver's value hash) stable — the same discipline
    DuckDB's ``string_agg(DISTINCT ... ORDER BY)`` encodes in SQL. The set
    of segments per group is small and bounded; for unbounded collects use
    a top-k window first (collect_list of a hot group is a driver-sized
    object at 100 TB).
    """
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.join(F.broadcast(nation),
                      customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
            F.concat_ws(",", F.array_sort(F.collect_set("c_mktsegment")))
            .alias("segments"),
        )
        .orderBy("n_name")
    )


ORACLE_NATION_SEGMENTS = """
SELECT n_name, COUNT(*) AS n_customers,
       round(AVG(c_acctbal), 4) AS avg_acctbal,
       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
           AS segments
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# MAD (median-absolute-deviation) robust outlier detection.
# ---------------------------------------------------------------------------

_MAD_K = 3.0 * 1.4826  # 3-sigma equivalent under normality


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier count per event type via the median/MAD rule:
    |value − median| > 3·1.4826·MAD.

    Two exact-percentile aggregates with the tiny per-group statistics
    broadcast back between them — the same broadcast-bounds shape as the
    winsorized query, so at 100 TB the fact table is scanned twice with a
    2-column projection and never shuffled on anything wider than
    event_type. Unlike stddev-based z-scores, the MAD threshold itself is
    unaffected by the outliers it hunts."""
    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = events.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med"))
    dev = (events.join(F.broadcast(med), "event_type")
           .select("event_type", "value", "med",
                   F.abs(F.col("value") - F.col("med")).alias("adev")))
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.first("med"), 4).alias("median_value"),
             F.round(F.first("mad"), 4).alias("mad_value"),
             F.count_if(F.col("adev") > F.lit(_MAD_K) * F.col("mad"))
             .alias("n_outliers"))
        .orderBy("event_type")
    )


ORACLE_MAD_OUTLIERS = f"""
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY event_type
), dev AS (
    SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
    FROM events e JOIN med m ON e.event_type = m.event_type
), mad AS (
    SELECT event_type, quantile_cont(adev, 0.5) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       COUNT(*) AS n_events,
       round(MIN(d.med), 4) AS median_value,
       round(MIN(m.mad), 4) AS mad_value,
       COUNT(*) FILTER (WHERE d.adev > {_MAD_K} * m.mad) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
ORDER BY d.event_type
"""


# ---------------------------------------------------------------------------
# VARIANT semi-structured path (Spark 4): parse once, extract typed fields.
# ---------------------------------------------------------------------------

def q_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same analytical result family as ``q_props_extract`` but through
    Spark 4's VARIANT type: ``parse_json`` converts the string payload to
    the binary variant encoding once, then ``variant_get`` does typed path
    extraction against that encoding.

    At 100 TB the difference is architectural, not cosmetic: a string JSON
    column is re-tokenized by every ``get_json_object`` call, while a
    variant column parses once (ideally at ingest, persisted as VARIANT in
    parquet) and every later extraction is an O(log fields) binary probe.
    This query keeps parse+extract in one plan to stay self-contained; the
    ingest-side materialization is the production layout.
    """
    events = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        events.select("event_type", k.alias("k"), "value")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.count_distinct("k").alias("distinct_k"),
             F.round(F.avg("k"), 4).alias("avg_k"),
             F.round(F.avg("value"), 4).alias("avg_value"))
        .orderBy("event_type")
    )


ORACLE_PROPS_VARIANT = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
           AS distinct_k,
       round(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
           AS avg_k,
       round(AVG(value), 4) AS avg_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Snapshot diff / CDC classification (dataset-versioning audit)
# ---------------------------------------------------------------------------

def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every key across two dataset versions as added / removed /
    modified / unchanged — the between-snapshots audit a versioned corpus
    pipeline runs before promoting a build. Snapshot B is derived
    deterministically from the documents table (every 17th doc removed,
    every 13th doc's payload changed, every 11th doc_id shifted into a new
    id range = additions), so both engines construct identical inputs.

    One FULL OUTER join on the key with null-flag + payload-equality
    classification — the exceptAll-based alternative needs two set-diff
    shuffles and still can't tell modified from added/removed. At 100 TB
    the join ships (key, fingerprint) pairs only, never the payloads:
    compare by md5, not by text.
    """
    a = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp_a"))
    b = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 17 != 0)
        .select(
            F.when(F.col("doc_id") % 11 == 0,
                   F.col("doc_id") + 1_000_000)
            .otherwise(F.col("doc_id")).alias("doc_id"),
            F.when(F.col("doc_id") % 13 == 0,
                   F.md5(F.concat(F.col("text"), F.lit("!"))))
            .otherwise(F.md5("text")).alias("fp_b"))
    )
    status = (
        F.when(F.col("fp_a").isNull(), F.lit("added"))
        .when(F.col("fp_b").isNull(), F.lit("removed"))
        .when(F.col("fp_a") != F.col("fp_b"), F.lit("modified"))
        .otherwise(F.lit("unchanged")))
    return (
        a.join(b, "doc_id", "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("status")
    )


ORACLE_SNAPSHOT_DIFF = """
WITH a AS (
    SELECT doc_id, md5(text) AS fp_a FROM documents
), b AS (
    SELECT CASE WHEN doc_id % 11 = 0 THEN doc_id + 1000000
                ELSE doc_id END AS doc_id,
           CASE WHEN doc_id % 13 = 0 THEN md5(text || '!')
                ELSE md5(text) END AS fp_b
    FROM documents WHERE doc_id % 17 <> 0
)
SELECT CASE WHEN a.fp_a IS NULL THEN 'added'
            WHEN b.fp_b IS NULL THEN 'removed'
            WHEN a.fp_a <> b.fp_b THEN 'modified'
            ELSE 'unchanged' END AS status,
       COUNT(*) AS n_docs
FROM a FULL OUTER JOIN b USING (doc_id)
GROUP BY 1
ORDER BY status
"""


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of event values — the optimizer-style
    statistics build.

    The naive exact form is ntile(10) over a GLOBAL sort: one partition,
    non-starter at scale. Instead the nine decile boundaries come from one
    percentile aggregate (a 1-row result), broadcast back, and each row
    computes its bin as a fold over the boundary array — same two-pass
    broadcast-bounds pattern as winsorized_stats, fully parallel at any
    size. Bin populations come out ±0 equal to ntile's only when values
    don't tie across boundaries; for statistics that distinction is noise.
    """
    events = load_table(spark, sf_dir, "events")
    qs = [i / 10.0 for i in range(1, 10)]
    bounds = events.agg(F.percentile("value", qs).alias("bs"))
    bin_col = F.lit(1) + F.aggregate(
        F.col("bs"), F.lit(0),
        lambda acc, b: acc + F.when(F.col("value") > b, 1).otherwise(0))
    return (
        events.join(F.broadcast(bounds))
        .select(bin_col.alias("bin"), "value")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.min("value"), 4).alias("lo"),
             F.round(F.max("value"), 4).alias("hi"))
        .orderBy("bin")
    )


ORACLE_EQUIDEPTH_HISTOGRAM = """
WITH bounds AS (
  SELECT quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
         AS bs
  FROM events
), binned AS (
  SELECT 1 + list_sum(list_transform(bs,
             b -> CASE WHEN value > b THEN 1 ELSE 0 END)) AS bin,
         value
  FROM events, bounds
)
SELECT CAST(bin AS INT) AS bin, COUNT(*) AS n_events,
       round(MIN(value), 4) AS lo, round(MAX(value), 4) AS hi
FROM binned
GROUP BY bin
ORDER BY bin
"""


def q_nested_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalize-then-compute: collect each order's lineitems into an
    array of structs (the document-store/training-example shape) and
    derive flat metrics FROM the nested column with higher-order functions
    — filter (big lines), transform+aggregate (revenue fold) — all
    JVM-side, no re-explode.

    This is the pattern for emitting nested training examples (an order =
    one JSON document with its line array): one groupBy builds the
    document; downstream metrics read the array without another shuffle.
    Output stays flat so the DuckDB twin (list aggregation) hash-compares.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    docs = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col("l_linenumber").alias("line"),
            F.col("l_quantity").alias("qty"),
            F.col("l_extendedprice").alias("price"),
            F.col("l_discount").alias("disc"),
        ))).alias("lines"))
    )
    revenue = F.aggregate(
        F.col("lines"), F.lit(0.0),
        lambda acc, x: acc + x["price"] * (1 - x["disc"]))
    return docs.select(
        "l_orderkey",
        F.size("lines").alias("n_lines"),
        F.size(F.filter(F.col("lines"), lambda x: x["qty"] > 25))
        .alias("big_lines"),
        F.round(revenue, 4).alias("doc_revenue"),
    ).filter(F.col("n_lines") >= 5).orderBy("l_orderkey")


ORACLE_NESTED_ORDER_DOCS = """
WITH docs AS (
  SELECT l_orderkey,
         list_sort(list(struct_pack(line := l_linenumber, qty := l_quantity,
                                    price := l_extendedprice,
                                    disc := l_discount))) AS lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       len(lines) AS n_lines,
       len(list_filter(lines, x -> x.qty > 25)) AS big_lines,
       round(list_sum(list_transform(lines, x -> x.price * (1 - x.disc))),
             4) AS doc_revenue
FROM docs
WHERE len(lines) >= 5
ORDER BY l_orderkey
"""


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report — the diagnostic run before any big keyed
    operation: distribution statistics of per-key group sizes for
    events.user_id (count, mean, p50/p99/max, and the max/mean hot-key
    ratio that predicts straggler tasks).

    Two aggregates: per-key counts (the only corpus-sized exchange), then
    a single-row stats rollup over the |keys|-sized table. When the ratio
    is large the mitigations are operators/skew.py (salting, two-stage
    distinct) or AQE skew-join splitting — this query is how you KNOW.
    """
    events = load_table(spark, sf_dir, "events")
    per_key = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.round(F.avg("n"), 4).alias("mean_rows"),
        F.round(F.percentile("n", 0.5), 4).alias("p50"),
        F.round(F.percentile("n", 0.99), 4).alias("p99"),
        F.max("n").alias("max_rows"),
        F.round(F.max("n") / F.avg("n"), 4).alias("hot_key_ratio"),
    )


ORACLE_KEY_SKEW_PROFILE = """
WITH per_key AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       round(AVG(n), 4) AS mean_rows,
       round(quantile_cont(n, 0.5), 4) AS p50,
       round(quantile_cont(n, 0.99), 4) AS p99,
       MAX(n) AS max_rows,
       round(MAX(n) / AVG(n), 4) AS hot_key_ratio
FROM per_key
"""


_TOP_N_SOURCES = 5


def q_top_sources_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N + OTHER rollup — the reporting shape every dashboard needs:
    the 5 largest sources by document volume keep their identity, the long
    tail collapses into one OTHER row (with its member count).

    The top-N membership is a 5-row broadcast; the re-aggregation by the
    relabeled key is the only second exchange. Deterministic under ties
    (count desc, source asc cutoff).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    top = (counts.orderBy(F.desc("n_docs"), "source")
           .limit(_TOP_N_SOURCES)
           .select("source", F.lit(True).alias("is_top")))
    return (
        counts.join(F.broadcast(top), "source", "left")
        .withColumn("bucket",
                    F.when(F.col("is_top"), F.col("source"))
                    .otherwise(F.lit("OTHER")))
        .groupBy("bucket")
        .agg(F.sum("n_docs").cast("bigint").alias("n_docs"),
             F.count(F.lit(1)).alias("n_sources"))
        .orderBy(F.desc("n_docs"), "bucket")
    )


ORACLE_TOP_SOURCES_WITH_OTHER = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), top AS (
  SELECT source FROM counts ORDER BY n_docs DESC, source LIMIT {_TOP_N_SOURCES}
)
SELECT CASE WHEN source IN (SELECT source FROM top)
            THEN source ELSE 'OTHER' END AS bucket,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       COUNT(*) AS n_sources
FROM counts
GROUP BY 1
ORDER BY n_docs DESC, bucket
"""


def q_type_value_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of positive event values per type, as a Column
    aggregate (operators/grouped.py::geomean_column: exp∘avg∘ln, whole-stage
    codegen, no Python crossing). Geometric means are the right average for
    multiplicative quantities (growth rates, quality ratios)."""
    from ..operators.grouped import geomean_column

    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(F.round(geomean_column("value"), 4).alias("geomean_value"),
             F.count(F.when(F.col("value") > 0, 1)).alias("n_positive"))
        .orderBy("event_type")
    )


ORACLE_TYPE_VALUE_GEOMEAN = """
SELECT event_type,
       round(exp(AVG(CASE WHEN value > 0 THEN ln(value) END)), 4)
           AS geomean_value,
       COUNT(*) FILTER (value > 0) AS n_positive
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Seasonal-baseline anomaly detection (hour-of-day z-score)
# ---------------------------------------------------------------------------

_ANOM_Z = 2.0


def q_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly detection against a seasonal baseline: roll
    events up to (event_type, calendar hour) totals, learn each type's
    hour-of-day profile (mean/stddev of the hourly total across days),
    and flag hours whose total deviates more than 2σ from the profile —
    the load-monitoring query that respects daily seasonality instead of
    alarming on every nightly trough.

    Two aggregates, both on semantic keys: the hourly rollup shuffles
    (type, hour) once; the baseline aggregates the ROLLED-UP table
    (|types|×24 groups from |types|×hours rows) and broadcasts back, so
    the fact never moves twice. Flat profiles (σ=0) are excluded rather
    than alarmed. Output ordered by keys; z rounded for engine stability.
    """
    events = load_table(spark, sf_dir, "events")
    # aggregates are rounded (6 dp) BEFORE the z computation: double
    # accumulation order varies with partitioning (both across engines and
    # across Spark runs), and an unrounded σ in the z denominator turns
    # that ulp-noise into membership flips for borderline |z|≈2 hours
    hourly = (
        events.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.round(F.sum("value"), 6).alias("hour_value"))
    )
    baseline = (
        hourly.groupBy("event_type", F.hour("hour").alias("hod"))
        .agg(F.round(F.avg("hour_value"), 6).alias("mu"),
             F.round(F.stddev_samp("hour_value"), 6).alias("sigma"))
        .filter(F.col("sigma") > 0)
    )
    z = (F.col("hour_value") - F.col("mu")) / F.col("sigma")
    return (
        hourly.withColumn("hod", F.hour("hour"))
        .join(F.broadcast(baseline), ["event_type", "hod"])
        .filter(F.abs(z) > _ANOM_Z)
        .select("event_type", "hour",
                F.round("hour_value", 4).alias("hour_value"),
                F.round("mu", 4).alias("expected"),
                F.round(z, 4).alias("z"))
        .orderBy("event_type", "hour")
    )


ORACLE_HOURLY_ANOMALIES = f"""
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           round(SUM(value), 6) AS hour_value
    FROM events GROUP BY event_type, date_trunc('hour', ts)
), baseline AS (
    SELECT event_type, hour(hour) AS hod,
           round(AVG(hour_value), 6) AS mu,
           round(stddev_samp(hour_value), 6) AS sigma
    FROM hourly GROUP BY event_type, hour(hour)
    HAVING round(stddev_samp(hour_value), 6) > 0
)
SELECT h.event_type, h.hour,
       round(h.hour_value, 4) AS hour_value,
       round(b.mu, 4) AS expected,
       round((h.hour_value - b.mu) / b.sigma, 4) AS z
FROM hourly h
JOIN baseline b ON h.event_type = b.event_type AND hour(h.hour) = b.hod
WHERE abs((h.hour_value - b.mu) / b.sigma) > {_ANOM_Z}
ORDER BY h.event_type, h.hour
"""


# ---------------------------------------------------------------------------
# Privacy: pseudonymization integrity + k-anonymity release audit
# ---------------------------------------------------------------------------

_PSEUDO_SALT = "release-2024-q1"
_K_THRESHOLD = 5


def q_pseudonymize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """De-identification integrity check: pseudonymize user_id (salted
    SHA-256, ``functions/privacy.py``) and verify the mapping is 1:1 —
    n_users == n_pseudonyms (no collisions, no splits) — plus row
    conservation. The audit a release pipeline runs after swapping real
    ids out of a corpus. One aggregate; the hash is JVM-side."""
    from ..functions.privacy import pseudonymize

    events = load_table(spark, sf_dir, "events")
    p = events.select(
        "user_id",
        pseudonymize(F.col("user_id"), _PSEUDO_SALT).alias("pseudo"))
    return p.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct("pseudo").alias("n_pseudonyms"),
        F.min(F.length("pseudo")).alias("min_len"),
        F.max(F.length("pseudo")).alias("max_len"),
    )


ORACLE_PSEUDONYMIZE_AUDIT = f"""
WITH p AS (
    SELECT user_id,
           sha256('{_PSEUDO_SALT}' || CAST(user_id AS VARCHAR)) AS pseudo
    FROM events
)
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT pseudo) AS n_pseudonyms,
       MIN(length(pseudo)) AS min_len,
       MAX(length(pseudo)) AS max_len
FROM p
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit over a quasi-identifier tuple
    (event_type, 6-hour band, props-k decade): the smallest group size is
    the dataset's k; groups below the threshold are re-identification
    risks the release must suppress or generalize. One aggregate over the
    QI tuple, then a |groups|-sized rollup — the audit never moves the
    fact twice."""
    events = load_table(spark, sf_dir, "events")
    k_prop = F.get_json_object(F.col("props"), "$.k").cast("long")
    qi = (
        events.select(
            "event_type",
            (F.floor(F.hour("ts") / F.lit(6)) * 6).alias("hour_band"),
            (F.floor(k_prop / F.lit(10)) * 10).alias("k_decade"))
        .groupBy("event_type", "hour_band", "k_decade")
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    return qi.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("group_size").alias("k_anonymity"),
        F.count_if(F.col("group_size") < _K_THRESHOLD)
        .alias("groups_below_threshold"),
        F.round(F.avg("group_size"), 4).alias("avg_group_size"),
    )


ORACLE_K_ANONYMITY = f"""
WITH qi AS (
    SELECT event_type,
           (hour(ts) // 6) * 6 AS hour_band,
           (CAST(json_extract_string(props, '$.k') AS BIGINT) // 10) * 10
               AS k_decade,
           COUNT(*) AS group_size
    FROM events
    GROUP BY 1, 2, 3
)
SELECT COUNT(*) AS n_groups,
       MIN(group_size) AS k_anonymity,
       COUNT(*) FILTER (WHERE group_size < {_K_THRESHOLD})
           AS groups_below_threshold,
       round(AVG(group_size), 4) AS avg_group_size
FROM qi
"""


# ---------------------------------------------------------------------------
# Distribution drift monitoring (PSI between time halves)
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_EPS = 1e-6


def q_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: split the stream at its
    time midpoint, histogram ``value`` into 10 fixed-width bins (global
    min/max), and compute PSI per event type between the two halves —
    the train/serve skew check an ML feature pipeline runs on every
    refresh (PSI > 0.2 is the standard 'investigate' threshold).

    Two broadcast scalar anchors (time midpoint; value range) and ONE
    conditional aggregate to (type, bin) with ref/cur counts side by side
    — no ref⋈cur self-join, so the fact is scanned once for the histogram
    (plus the anchor pass) instead of once per half. Per-half totals ride
    a window over the |types|×bins aggregate; a bin absent from one half
    contributes exactly the ε floor, same as the old full-outer coalesce.
    All inputs to the log-ratio are integer counts over fixed edges, so
    the score is engine-exact before the final round.
    """
    events = load_table(spark, sf_dir, "events")
    anchors = events.agg(
        F.min("ts").alias("ts_lo"), F.max("ts").alias("ts_hi"),
        F.min("value").alias("v_lo"), F.max("value").alias("v_hi"))
    is_ref = (
        F.timestamp_diff("SECOND", F.col("ts_lo"), F.col("ts")) * 2
        <= F.timestamp_diff("SECOND", F.col("ts_lo"), F.col("ts_hi")))
    counts = (
        events.crossJoin(F.broadcast(anchors))
        .select(
            "event_type",
            is_ref.alias("is_ref"),
            F.least(
                F.floor((F.col("value") - F.col("v_lo"))
                        / ((F.col("v_hi") - F.col("v_lo"))
                           / F.lit(float(_PSI_BINS)))),
                F.lit(_PSI_BINS - 1)).cast("long").alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.when(F.col("is_ref"), 1)).alias("rn"),
             F.count(F.when(~F.col("is_ref"), 1)).alias("cn"))
    )
    tw = Window.partitionBy("event_type")
    # an event type living entirely in one half has a 0 total on the other
    # side: its bins must contribute the ε floor (matching the old
    # full-outer coalesce), not NULL from 0/0 — NULL would erase the PSI of
    # exactly the strongest drift signal (a brand-new event type)
    rtot, ctot = F.sum("rn").over(tw), F.sum("cn").over(tw)
    p = (F.when(rtot > 0, F.col("rn") / rtot).otherwise(F.lit(0.0))
         + F.lit(_PSI_EPS))
    q = (F.when(ctot > 0, F.col("cn") / ctot).otherwise(F.lit(0.0))
         + F.lit(_PSI_EPS))
    return (
        counts
        .select("event_type", p.alias("p"), q.alias("q"))
        .groupBy("event_type")
        .agg(F.round(F.sum((F.col("p") - F.col("q"))
                           * F.log(F.col("p") / F.col("q"))), 4)
             .alias("psi"),
             F.count(F.lit(1)).alias("n_bins"))
        .orderBy("event_type")
    )


ORACLE_FEATURE_DRIFT = f"""
WITH anchors AS (
    SELECT MIN(ts) AS ts_lo, MAX(ts) AS ts_hi,
           MIN(value) AS v_lo, MAX(value) AS v_hi
    FROM events
), binned AS (
    SELECT event_type,
           CASE WHEN date_diff('second', a.ts_lo, ts) * 2
                     <= date_diff('second', a.ts_lo, a.ts_hi)
                THEN 'ref' ELSE 'cur' END AS half,
           LEAST(CAST(floor((value - a.v_lo)
                            / ((a.v_hi - a.v_lo) / {float(_PSI_BINS)}))
                      AS BIGINT), {_PSI_BINS - 1}) AS bin,
           COUNT(*) AS n
    FROM events CROSS JOIN anchors a
    GROUP BY 1, 2, 3
), shares AS (
    SELECT event_type, half, bin,
           n / SUM(n) OVER (PARTITION BY event_type, half) + {_PSI_EPS}
               AS share
    FROM binned
), joined AS (
    SELECT COALESCE(r.event_type, c.event_type) AS event_type,
           COALESCE(r.share, {_PSI_EPS}) AS p,
           COALESCE(c.share, {_PSI_EPS}) AS q
    FROM (SELECT * FROM shares WHERE half = 'ref') r
    FULL OUTER JOIN (SELECT * FROM shares WHERE half = 'cur') c
      ON r.event_type = c.event_type AND r.bin = c.bin
)
SELECT event_type,
       round(SUM((p - q) * ln(p / q)), 4) AS psi,
       COUNT(*) AS n_bins
FROM joined
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# A/B experiment readout (hash-assigned arms, two-sample z-test)
# ---------------------------------------------------------------------------

_AB_SALT = "exp-42"


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment analysis: assign every user to an arm by salted hash
    (the deterministic bucketing a real experimentation system uses — the
    assignment is a pure function of (salt, user), reproducible across
    sessions and engines), then per event type compare mean value between
    arms with a two-sample z-score from pooled standard errors.

    One fact pass: arm assignment is a map-side expression, and all six
    aggregates (n/mean/var per arm) come from ONE conditional aggregate —
    no per-arm scans, no join. Moments are rounded before the z
    computation so the statistic never hinges on accumulation ulps.
    """
    events = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.substring(F.md5(F.concat(F.lit(_AB_SALT),
                                   F.col("user_id").cast("string"))), 1, 1)
        .isin(*"01234567"), F.lit("A")).otherwise(F.lit("B"))
    tagged = events.select("event_type", "value", arm.alias("arm"))
    agg = (
        tagged.groupBy("event_type")
        .agg(F.count_if(F.col("arm") == "A").alias("n_a"),
             F.count_if(F.col("arm") == "B").alias("n_b"),
             F.round(F.avg(F.when(F.col("arm") == "A", F.col("value"))), 6)
             .alias("mean_a"),
             F.round(F.avg(F.when(F.col("arm") == "B", F.col("value"))), 6)
             .alias("mean_b"),
             F.round(F.var_samp(F.when(F.col("arm") == "A",
                                       F.col("value"))), 6).alias("var_a"),
             F.round(F.var_samp(F.when(F.col("arm") == "B",
                                       F.col("value"))), 6).alias("var_b"))
    )
    se = F.sqrt(F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b"))
    return (
        agg.withColumn("lift", F.round(F.col("mean_b") - F.col("mean_a"), 6))
        .withColumn("z_score",
                    F.round((F.col("mean_b") - F.col("mean_a")) / se, 4))
        .select("event_type", "n_a", "n_b", "mean_a", "mean_b",
                "lift", "z_score")
        .orderBy("event_type")
    )


ORACLE_AB_TEST = f"""
WITH tagged AS (
    SELECT event_type, value,
           CASE WHEN substring(md5('{_AB_SALT}' || CAST(user_id AS VARCHAR)),
                               1, 1) IN
                     ('0','1','2','3','4','5','6','7')
                THEN 'A' ELSE 'B' END AS arm
    FROM events
), agg AS (
    SELECT event_type,
           COUNT(*) FILTER (WHERE arm = 'A') AS n_a,
           COUNT(*) FILTER (WHERE arm = 'B') AS n_b,
           round(AVG(value) FILTER (WHERE arm = 'A'), 6) AS mean_a,
           round(AVG(value) FILTER (WHERE arm = 'B'), 6) AS mean_b,
           round(var_samp(value) FILTER (WHERE arm = 'A'), 6) AS var_a,
           round(var_samp(value) FILTER (WHERE arm = 'B'), 6) AS var_b
    FROM tagged GROUP BY event_type
)
SELECT event_type, n_a, n_b, mean_a, mean_b,
       round(mean_b - mean_a, 6) AS lift,
       round((mean_b - mean_a) / sqrt(var_a / n_a + var_b / n_b), 4)
           AS z_score
FROM agg
ORDER BY event_type
"""
