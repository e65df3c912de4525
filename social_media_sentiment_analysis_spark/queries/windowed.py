"""Window-function analytics over the star schema.

The reference's query surface stops at GROUP BY + ORDER BY + LIMIT
(sentiment_analysis.py:456-482, :530-559); a user replacing its SQL endpoints
with this engine also gets the full analytic-window surface Spark provides.
Every query here is pure built-in Column algebra (whole-stage codegen, no
UDFs) and has an exact DuckDB oracle twin.

Scale notes:
- A window with ``partitionBy`` shuffles once on the partition key and sorts
  within partitions — the same single exchange a groupBy would pay. Frames
  are ROWS-based with a deterministic unique ORDER BY so results (and the
  driver's value-hash) are stable regardless of physical row order.
- No global (unpartitioned) windows over fact tables: a window without
  partitionBy collapses to ONE task and cannot scale. The only global-ish
  computations here (percentiles, cume_dist over a small agg) run on
  already-aggregated inputs that are tiny at any SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.batch import load_table


# ---------------------------------------------------------------------------
# Running total: cumulative spend per customer over their order history.
# ---------------------------------------------------------------------------

def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer cumulative order value in order-date order.

    ROWS frame + (o_orderdate, o_orderkey) ordering makes the prefix sum
    deterministic even when a customer places two orders the same day.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_orderdate",
            F.round(F.sum("o_totalprice").over(w), 4).alias("cumulative_spend"),
            F.row_number().over(
                Window.partitionBy("o_custkey")
                .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
            ).cast("long").alias("order_seq"),
        )
        .orderBy("o_custkey", "order_seq")
    )


ORACLE_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       round(SUM(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate ASC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
           AS cumulative_spend,
       row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate ASC, o_orderkey ASC) AS order_seq
FROM orders
ORDER BY o_custkey, order_seq
"""


# ---------------------------------------------------------------------------
# Lag/lead: day-over-day delta of daily event value.
# ---------------------------------------------------------------------------

def q_daily_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily total event value with previous-day value and delta (lag)."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.round(F.sum("value"), 4).alias("day_value"))
    )
    w = Window.orderBy(F.asc("day"))
    return (
        daily.select(
            "day", "day_value",
            F.lag("day_value", 1).over(w).alias("prev_value"),
            F.round(
                F.col("day_value") - F.coalesce(F.lag("day_value", 1).over(w),
                                                F.lit(0.0)),
                4,
            ).alias("delta"),
        )
        .orderBy("day")
    )


ORACLE_DAILY_VALUE_DELTA = """
WITH daily AS (
    SELECT date_trunc('day', ts) AS day, round(SUM(value), 4) AS day_value
    FROM events GROUP BY 1
)
SELECT day, day_value,
       lag(day_value, 1) OVER (ORDER BY day ASC) AS prev_value,
       round(day_value - COALESCE(lag(day_value, 1) OVER (ORDER BY day ASC),
                                  0.0), 4) AS delta
FROM daily
ORDER BY day
"""


# ---------------------------------------------------------------------------
# Moving average: 7-day trailing mean over the daily series.
# ---------------------------------------------------------------------------

def q_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row trailing moving average of daily event value (ROWS 6 PRECEDING).

    The window runs over the *aggregated* daily series (≤ a few thousand rows
    at any SF), so the unpartitioned sort is trivially small even though the
    underlying events table is not.
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.round(F.sum("value"), 4).alias("day_value"))
    )
    w = Window.orderBy(F.asc("day")).rowsBetween(-6, Window.currentRow)
    return (
        daily.select(
            "day", "day_value",
            F.round(F.avg("day_value").over(w), 4).alias("ma7"),
            F.count(F.lit(1)).over(w).alias("window_days"),
        )
        .orderBy("day")
    )


ORACLE_MOVING_AVERAGE = """
WITH daily AS (
    SELECT date_trunc('day', ts) AS day, round(SUM(value), 4) AS day_value
    FROM events GROUP BY 1
)
SELECT day, day_value,
       round(AVG(day_value) OVER (
           ORDER BY day ASC ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
           AS ma7,
       COUNT(*) OVER (
           ORDER BY day ASC ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
           AS window_days
FROM daily
ORDER BY day
"""


# ---------------------------------------------------------------------------
# Quantile bucketing: ntile + percent_rank over per-customer spend.
# ---------------------------------------------------------------------------

def q_customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers bucketed into spend quartiles with exact percent ranks.

    The input is |customers| rows — UNBOUNDED cardinality — so a plain
    ``ntile().over(Window.orderBy(...))`` would drag every customer through
    one partition-less WindowExec task. Instead the distributed ranking
    operator (operators/ranking.py) range-partitions on the sort key,
    ranks locally per partition, and broadcasts the P-row cumulative
    offsets; ntile/percent_rank are closed-form expressions of (rank, n)
    and EXACTLY reproduce the window functions (the o_custkey tiebreak
    makes the ordering total, so ranks are engine-exact).
    """
    from ..operators.ranking import with_ntile

    orders = load_table(spark, sf_dir, "orders")
    spend = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("total_spend"))
    )
    bucketed = with_ntile(
        spend, [F.desc("total_spend"), F.asc("o_custkey")], 4,
        out_col="spend_quartile", pct_col="__pct")
    return (
        bucketed.select(
            "o_custkey", "total_spend",
            F.col("spend_quartile").cast("long").alias("spend_quartile"),
            F.round(F.col("__pct"), 6).alias("spend_pct_rank"),
        )
        .orderBy("spend_quartile", F.desc("total_spend"), "o_custkey")
    )


ORACLE_CUSTOMER_SPEND_QUARTILES = """
WITH spend AS (
    SELECT o_custkey, round(SUM(o_totalprice), 4) AS total_spend
    FROM orders GROUP BY o_custkey
)
SELECT o_custkey, total_spend,
       ntile(4) OVER (ORDER BY total_spend DESC, o_custkey ASC)
           AS spend_quartile,
       round(percent_rank() OVER (ORDER BY total_spend DESC, o_custkey ASC),
             6) AS spend_pct_rank
FROM spend
ORDER BY spend_quartile, total_spend DESC, o_custkey
"""


# ---------------------------------------------------------------------------
# Share-of-total: per-group percentage via window over aggregate.
# ---------------------------------------------------------------------------

def q_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event type's share of total volume and value — the
    window-over-aggregate idiom (no second scan, no driver-side total)."""
    events = load_table(spark, sf_dir, "events")
    agg = (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("type_value"),
        )
    )
    # SUM() OVER () on the |event_types|-row aggregate: the single-partition
    # window exchange moves only the grouped rows (bounded, tiny), keeping
    # ONE fact scan. A crossJoin against a separately-computed total would
    # re-scan the fact (Catalyst plans the global-agg branch with a
    # different partial aggregate, so the exchange is not reused) — the
    # WindowExec single-partition warning is benign here by construction.
    w = Window.partitionBy()
    return (
        agg.select(
            "event_type", "n_events", "type_value",
            F.round(F.col("n_events") / F.sum("n_events").over(w), 6)
             .alias("count_share"),
            F.round(F.col("type_value") / F.sum("type_value").over(w), 6)
             .alias("value_share"),
        )
        .orderBy(F.desc("n_events"), "event_type")
    )


ORACLE_TYPE_SHARE = """
WITH agg AS (
    SELECT event_type, COUNT(*) AS n_events,
           round(SUM(value), 4) AS type_value
    FROM events GROUP BY event_type
)
SELECT event_type, n_events, type_value,
       round(n_events / SUM(n_events) OVER (), 6) AS count_share,
       round(type_value / SUM(type_value) OVER (), 6) AS value_share
FROM agg
ORDER BY n_events DESC, event_type
"""


# ---------------------------------------------------------------------------
# Correlated-subquery pattern: rows above their own group's average.
# ---------------------------------------------------------------------------

def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above their customer's average order value — the
    classic correlated scalar subquery, expressed as a window aggregate so
    the fact table is scanned ONCE and shuffled once on the key (the
    correlated-subquery formulation would self-join: two scans, two
    shuffles)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    # avg as round(sum,4)/count: the rounded sum is the same double in both
    # engines (accumulation-order noise is below 1e-4), so the division —
    # and therefore the > comparison — is bit-identical cross-engine,
    # unlike AVG whose unrounded result can straddle a rounding boundary
    cust_avg = (F.round(F.sum("o_totalprice").over(w), 4)
                / F.count(F.lit(1)).over(w))
    return (
        orders.withColumn("cust_avg_raw", cust_avg)
        .filter(F.col("o_totalprice") > F.col("cust_avg_raw"))
        .select("o_custkey", "o_orderkey", "o_totalprice",
                # no final round: the division of the rounded sum by the
                # count is already bit-identical cross-engine, while
                # round() on an exact-half double is not (decimal-string
                # vs binary rounding)
                F.col("cust_avg_raw").alias("cust_avg"))
        .orderBy("o_custkey", "o_orderkey")
    )


ORACLE_ABOVE_AVG_ORDERS = """
WITH enriched AS (
    SELECT o_custkey, o_orderkey, o_totalprice,
           round(SUM(o_totalprice) OVER (PARTITION BY o_custkey), 4)
               / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg_raw
    FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice,
       cust_avg_raw AS cust_avg
FROM enriched
WHERE o_totalprice > cust_avg_raw
ORDER BY o_custkey, o_orderkey
"""


# ---------------------------------------------------------------------------
# RANGE-frame window: trailing one-hour average per user.
# ---------------------------------------------------------------------------

def q_trailing_hour_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 1-hour average of value for the same user.

    The registry's only RANGE frame (moving_average is ROWS): the frame is
    defined by the *time gap* [t-3599s, t], not a row count, so sparse and
    bursty users get correct physical-time semantics. Ordering key is
    whole seconds since epoch (timestampdiff), identical truncation on the
    DuckDB side, so frame membership is bit-identical across engines.
    One shuffle on user_id.
    """
    events = load_table(spark, sf_dir, "events")
    ev = events.withColumn("epoch_s", F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
    w = (
        Window.partitionBy("user_id").orderBy("epoch_s")
        .rangeBetween(-3599, 0)
    )
    return (
        ev.select(
            "user_id", "event_id", "epoch_s",
            F.round(F.avg("value").over(w), 4).alias("trailing_hour_avg"),
            F.count(F.lit(1)).over(w).alias("n_in_window"),
        )
        .orderBy("user_id", "epoch_s", "event_id")
    )


ORACLE_TRAILING_HOUR_AVG = """
WITH ev AS (
    SELECT user_id, event_id, value,
           date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS epoch_s
    FROM events
)
SELECT user_id, event_id, epoch_s,
       round(AVG(value) OVER w, 4) AS trailing_hour_avg,
       COUNT(*) OVER w AS n_in_window
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
ORDER BY user_id, epoch_s, event_id
"""


# ---------------------------------------------------------------------------
# Exponential time-decay scoring (trending/recency weighting).
# ---------------------------------------------------------------------------

def q_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement score with a 24-hour half-life.

    The recency weighting behind every "trending" ranking: each event
    contributes ``value * 0.5^(age/24h)`` against the dataset's max
    timestamp (data-relative anchor → deterministic, like P5's trailing
    window). Pure weighted aggregate — one scan, one shuffle on user_id;
    the anchor is a 1-row broadcast. Ages are whole-second epochs on both
    engines so the exponent (and the driver's value hash) is bit-stable.
    """
    events = load_table(spark, sf_dir, "events").withColumn(
        "epoch_s", F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
    anchor = events.agg(F.max("epoch_s").alias("anchor_s"))
    return (
        events.join(F.broadcast(anchor))
        .withColumn("age_h",
                    (F.col("anchor_s") - F.col("epoch_s")) / F.lit(3600.0))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value")
                          * F.pow(F.lit(0.5), F.col("age_h") / F.lit(24.0))),
                    4).alias("decayed_score"),
        )
        .orderBy("user_id")
    )


ORACLE_DECAYED_ENGAGEMENT = """
WITH ev AS (
    SELECT user_id, value,
           date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS epoch_s
    FROM events
), anchor AS (SELECT MAX(epoch_s) AS anchor_s FROM ev)
SELECT user_id, COUNT(*) AS n_events,
       round(SUM(value * pow(0.5, ((anchor_s - epoch_s) / 3600.0) / 24.0)), 4)
           AS decayed_score
FROM ev, anchor
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Top-k per group WITH ties (rank, not row_number)
# ---------------------------------------------------------------------------

def q_top_orders_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's top-2 orders by value, keeping ties — rank() rather
    than row_number(), the semantic difference that matters whenever the
    ranking key has collisions (row_number silently drops equal-valued
    rows; rank keeps every row that ties into the top k). Same single
    exchange as the top-1 query: the window partitions by the group key."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return (
        orders.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 2)
        .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rnk", "o_orderkey")
    )


ORACLE_TOP_ORDERS_WITH_TIES = """
SELECT o_custkey, rnk, o_orderkey, o_totalprice
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           rank() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC) AS rnk
    FROM orders
)
WHERE rnk <= 2
ORDER BY o_custkey, rnk, o_orderkey
"""


# ---------------------------------------------------------------------------
# Cumulative unique users (first-seen attribution + running sum)
# ---------------------------------------------------------------------------

def q_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users over time — the growth-curve query.
    Naively this is COUNT(DISTINCT) over an ever-growing frame (state =
    all history); the scalable identity is first-seen attribution: each
    user contributes exactly once, on their first active day, so the curve
    is a per-day count of first-seen users + a running sum over the tiny
    daily aggregate. Two exchanges over progressively collapsing data
    (|users|, then |days|), zero distinct-over-window state."""
    events = load_table(spark, sf_dir, "events")
    first_seen = (
        events.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .groupBy("user_id").agg(F.min("day").alias("first_day")))
    daily_new = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        daily_new
        .select("first_day", "new_users",
                F.sum("new_users").over(w).alias("cumulative_users"))
        .orderBy("first_day")
    )


ORACLE_CUMULATIVE_UNIQUE_USERS = """
WITH first_seen AS (
    SELECT user_id, MIN(date_trunc('day', ts)) AS first_day
    FROM events GROUP BY user_id
), daily_new AS (
    SELECT first_day, COUNT(*) AS new_users
    FROM first_seen GROUP BY first_day
)
SELECT first_day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY first_day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT)
           AS cumulative_users
FROM daily_new
ORDER BY first_day
"""


def q_value_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling to 6-hour OHLC bars per event type — the
    downsampling shape every metrics/market pipeline needs.

    open/close are min_by/max_by on the timestamp (one aggregate, no
    window-sort), high/low plain min/max — a single hash aggregate per
    (type, bucket): the exchange carries one row per bar regardless of
    input rate. (ts is unique within event_type at every SF — verified —
    so the min_by/max_by pick is deterministic; with tie-prone data order
    on a (ts, tiebreak) struct instead.)
    """
    events = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", "ts") - F.expr(
        "make_interval(0, 0, 0, 0, hour(ts) % 6, 0, 0)")
    return (
        events
        .groupBy("event_type", bucket.alias("bar_start"))
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type", "bar_start")
    )


ORACLE_VALUE_BARS = """
SELECT event_type,
       date_trunc('hour', ts)
           - INTERVAL (EXTRACT(hour FROM ts)::INT % 6) HOUR AS bar_start,
       arg_min(value, ts) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, ts) AS close,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) per type and day
# ---------------------------------------------------------------------------

def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average value per event type: each observation
    is weighted by how long it remained the latest one (seconds to the
    next event in the same (type, day) series; the day's last observation
    carries no weight). The irregular-sampling average a plain AVG gets
    wrong — the finance/telemetry TWAP shape.

    One window (lead over the series key) on one exchange; the weighted
    rollup reuses the same partitioning. Weights and products are rounded
    before aggregation for cross-engine stability.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    w = Window.partitionBy("event_type", "day").orderBy("ts")
    # NTZ-safe exact interval: microsecond diff (no session-TZ dependence,
    # no sub-second truncation)
    seconds = (F.timestamp_diff("MICROSECOND", F.col("ts"),
                                F.col("next_ts")) / F.lit(1_000_000.0))
    weighted = (
        events.select("event_type", day, "ts", "value")
        .withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("next_ts").isNotNull())
        .withColumn("wt", seconds)
    )
    return (
        weighted.groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n_intervals"),
             F.round(F.sum(F.col("wt") * F.col("value")) / F.sum("wt"), 4)
             .alias("twap"),
             F.round(F.avg("value"), 4).alias("plain_avg"))
        .orderBy("event_type", "day")
    )


ORACLE_TIME_WEIGHTED_AVG = """
WITH series AS (
    SELECT event_type, date_trunc('day', ts) AS day, ts, value,
           lead(ts) OVER (PARTITION BY event_type, date_trunc('day', ts)
                          ORDER BY ts) AS next_ts
    FROM events
), weighted AS (
    SELECT event_type, day, value,
           (epoch_us(next_ts) - epoch_us(ts)) / 1000000.0 AS wt
    FROM series WHERE next_ts IS NOT NULL
)
SELECT event_type, day,
       COUNT(*) AS n_intervals,
       round(SUM(wt * value) / SUM(wt), 4) AS twap,
       round(AVG(value), 4) AS plain_avg
FROM weighted
GROUP BY event_type, day
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintile scores)
# ---------------------------------------------------------------------------

def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic marketing-analytics readout:
    score every customer 1–5 on Recency (days since last order, newer =
    higher), Frequency (order count) and Monetary (total spend) via
    quintile windows, label the 'champion' (5-5-5 … 4-4-4 band) and
    'at-risk' (high F/M, low R) segments, and roll up segment sizes.

    One orders aggregate (the only fact-sized stage), then three EXACT
    distributed quintile assignments over the |customers| rollup
    (operators/ranking.py — range-partitioned global rank + closed-form
    ntile; a partition-less ntile window here would funnel every customer
    through one task) and a |segments| rollup. Recency anchors on
    max(o_orderdate) (broadcast 1-row scalar) so the query is
    deterministic for a fixed dataset, not wall-clock dependent. ntile
    ties break on the customer key so quintile membership is engine-exact.
    """
    from ..operators.ranking import with_ntile
    from ..session import run_concurrently

    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("now"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("last_order"),
             F.count(F.lit(1)).alias("frequency"),
             F.round(F.sum("o_totalprice"), 4).alias("monetary"))
        .crossJoin(F.broadcast(anchor))
        .withColumn("recency_days",
                    F.date_diff(F.col("now"), F.col("last_order")))
        # the rollup below needs only these four; projecting before the
        # rank passes keeps the range exchanges and their checkpoints
        # narrow (guide §2.3: project before the exchange)
        .select("o_custkey", "recency_days", "frequency", "monetary")
        # the three rank passes below re-traverse their input lineage for
        # range-boundary sampling; pin the (small) per-customer rollup so
        # the orders scan+agg runs once, not 3× — EAGER because three
        # concurrent consumers racing a lazy checkpoint can each
        # materialize their own copy
        .localCheckpoint(eager=True)
    )
    # The three quintile assignments are independent total sorts of the
    # SAME pinned rollup; chaining them serialized three eager
    # materializations on the driver (profiled: ~2 s of builder wall at
    # sf0.1 for ~0.5 s of jobs). Run them as concurrent jobs (guide §2.6 —
    # actions are only sequential because driver code calls them
    # sequentially) and re-attach the (o_custkey, score) pairs — 16-byte
    # rows — to the rollup by key.
    def _score(out_col, order):
        return lambda: with_ntile(per_cust, order, 5, out_col=out_col).select(
            "o_custkey", out_col)

    r_s, f_s, m_s = run_concurrently(
        _score("r_score", [F.desc("recency_days"), F.asc("o_custkey")]),
        _score("f_score", [F.asc("frequency"), F.asc("o_custkey")]),
        _score("m_score", [F.asc("monetary"), F.asc("o_custkey")]),
    )
    scored = (per_cust.join(r_s, "o_custkey")
              .join(f_s, "o_custkey").join(m_s, "o_custkey"))
    scored = (
        scored
        .withColumn(
            "segment",
            F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4)
                   & (F.col("m_score") >= 4), "champion")
            .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4)
                  & (F.col("m_score") >= 4), "at_risk")
            .when(F.col("r_score") >= 4, "recent")
            .otherwise("other"))
    )
    return (
        scored.groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.round(F.avg("frequency"), 4).alias("avg_frequency"),
             F.round(F.avg("monetary"), 4).alias("avg_monetary"),
             F.round(F.avg("recency_days"), 4).alias("avg_recency_days"))
        .orderBy("segment")
    )


ORACLE_RFM_SEGMENTS = """
WITH anchor AS (
    SELECT MAX(o_orderdate) AS now FROM orders
), per_cust AS (
    SELECT o_custkey,
           MAX(o_orderdate) AS last_order,
           COUNT(*) AS frequency,
           round(SUM(o_totalprice), 4) AS monetary
    FROM orders GROUP BY o_custkey
), with_recency AS (
    SELECT p.*, date_diff('day', p.last_order, a.now) AS recency_days
    FROM per_cust p CROSS JOIN anchor a
), scored AS (
    SELECT *,
           NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
           NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
           NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score
    FROM with_recency
), labeled AS (
    SELECT *,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                THEN 'champion'
                WHEN r_score <= 2 AND f_score >= 4 AND m_score >= 4
                THEN 'at_risk'
                WHEN r_score >= 4 THEN 'recent'
                ELSE 'other' END AS segment
    FROM scored
)
SELECT segment,
       COUNT(*) AS n_customers,
       round(AVG(frequency), 4) AS avg_frequency,
       round(AVG(monetary), 4) AS avg_monetary,
       round(AVG(recency_days), 4) AS avg_recency_days
FROM labeled
GROUP BY segment
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# Cohort LTV curve (cumulative spend per first-order-month cohort)
# ---------------------------------------------------------------------------

_LTV_MAX_AGE = 6


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month; for each cohort and month-age 0..6, cumulative spend per cohort
    member — the retention-economics readout (does month-3 LTV of newer
    cohorts beat older ones?).

    The cohort stamp is a min() window over the orders scan (one custkey
    exchange, reused by nothing else); ages clip at 6 months so the output
    is |cohorts|×7 regardless of scale. The cumulative sum is a window
    over the (cohort, age) rollup — fact moves once.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust_w = Window.partitionBy("o_custkey")
    staged = (
        orders.select("o_custkey", "o_orderdate", "o_totalprice")
        .withColumn("cohort_month",
                    F.date_trunc("month",
                                 F.min("o_orderdate").over(cust_w)))
        .withColumn(
            "age",
            F.months_between(F.date_trunc("month", F.col("o_orderdate")),
                             F.col("cohort_month")).cast("long"))
        .filter(F.col("age") <= _LTV_MAX_AGE)
    )
    cohort_sizes = (
        staged.groupBy("cohort_month")
        .agg(F.count_distinct("o_custkey").alias("cohort_users")))
    by_age = (
        staged.groupBy("cohort_month", "age")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("month_spend"))
    )
    cum_w = (Window.partitionBy("cohort_month").orderBy("age")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        by_age
        .withColumn("cum_spend", F.round(F.sum("month_spend").over(cum_w), 4))
        .join(F.broadcast(cohort_sizes), "cohort_month")
        # explicit floor-based half-up instead of round(): Spark rounds
        # doubles via decimal HALF_UP, DuckDB numerically — they disagree
        # on exact .00005 boundaries; floor(x*1e4+0.5)/1e4 is the same
        # IEEE op sequence on the same doubles in both engines
        .withColumn("ltv_per_user",
                    F.floor(F.col("cum_spend") / F.col("cohort_users")
                            * 10000 + F.lit(0.5)) / 10000)
        .select("cohort_month", "age", "cohort_users",
                "month_spend", "cum_spend", "ltv_per_user")
        .orderBy("cohort_month", "age")
    )


ORACLE_COHORT_LTV = f"""
WITH staged AS (
    SELECT o_custkey, o_totalprice,
           date_trunc('month',
                      MIN(o_orderdate) OVER (PARTITION BY o_custkey))
               AS cohort_month,
           CAST(datediff('month',
                date_trunc('month',
                           MIN(o_orderdate) OVER (PARTITION BY o_custkey)),
                date_trunc('month', o_orderdate)) AS BIGINT) AS age
    FROM orders
), filtered AS (
    SELECT * FROM staged WHERE age <= {_LTV_MAX_AGE}
), sizes AS (
    SELECT cohort_month, COUNT(DISTINCT o_custkey) AS cohort_users
    FROM filtered GROUP BY cohort_month
), by_age AS (
    SELECT cohort_month, age,
           round(SUM(o_totalprice), 4) AS month_spend
    FROM filtered GROUP BY cohort_month, age
), cum AS (
    SELECT *, round(SUM(month_spend) OVER (
        PARTITION BY cohort_month ORDER BY age
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_spend
    FROM by_age
)
SELECT c.cohort_month, c.age, s.cohort_users,
       c.month_spend, c.cum_spend,
       floor(c.cum_spend / s.cohort_users * 10000 + 0.5) / 10000
           AS ltv_per_user
FROM cum c JOIN sizes s ON c.cohort_month = s.cohort_month
ORDER BY c.cohort_month, c.age
"""


# ---------------------------------------------------------------------------
# Inter-purchase interval distribution (repeat-order cadence)
# ---------------------------------------------------------------------------

def q_order_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-order cadence: the distribution of days between a customer's
    consecutive orders (count + exact p25/p50/p75/p90 plus the share of
    gaps over 90 days) — the replenishment-cycle readout behind churn
    windows and send-time optimization.

    One lag window on the custkey exchange produces the gaps; the
    percentile aggregate runs over |repeat orders| rows. Day-granular
    integer gaps, so no float-order sensitivity anywhere before the
    rounded percentiles.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select("o_custkey", "o_orderkey", "o_orderdate")
        .withColumn("prev_date", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_date").isNotNull())
        .select(F.date_diff(F.col("o_orderdate"),
                            F.col("prev_date")).alias("gap_days"))
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(F.percentile("gap_days", 0.25), 4).alias("p25_days"),
        F.round(F.percentile("gap_days", 0.5), 4).alias("p50_days"),
        F.round(F.percentile("gap_days", 0.75), 4).alias("p75_days"),
        F.round(F.percentile("gap_days", 0.9), 4).alias("p90_days"),
        F.round(F.count_if(F.col("gap_days") > 90)
                / F.count(F.lit(1)), 6).alias("share_over_90d"),
    )


ORACLE_ORDER_INTERVALS = """
WITH gaps AS (
    SELECT date_diff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS gap_days
    FROM orders
    QUALIFY gap_days IS NOT NULL
)
SELECT COUNT(*) AS n_intervals,
       round(quantile_cont(gap_days, 0.25), 4) AS p25_days,
       round(quantile_cont(gap_days, 0.5), 4) AS p50_days,
       round(quantile_cont(gap_days, 0.75), 4) AS p75_days,
       round(quantile_cont(gap_days, 0.9), 4) AS p90_days,
       round(COUNT(*) FILTER (WHERE gap_days > 90) * 1.0 / COUNT(*), 6)
           AS share_over_90d
FROM gaps
"""
