"""Temporal registry queries: as-of join and sessionization over the
events/orders tables, each with a DuckDB oracle (ASOF JOIN is native in
DuckDB; sessionization oracles as gaps-and-islands SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.temporal import as_of_join, session_rollup
from ..sources.batch import load_table

SESSION_GAP = "30 minutes"


def q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event, the customer's most recent order at or before the
    event time (point-in-time enrichment — the feature-store/as-of pattern).
    The right side is pre-aggregated to one row per (custkey, orderdate) so
    equal-timestamp ties are deterministic in both engines."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("last_order_key"),
            F.max_by("o_totalprice", "o_orderkey").alias("last_order_price"),
        )
    )
    orders = orders.withColumnRenamed("o_custkey", "user_id")
    return (
        as_of_join(events, orders, on="user_id",
                   left_ts="ts", right_ts="o_orderdate")
        .select("event_id", "user_id", "ts",
                "last_order_key", "last_order_price")
    )  # no orderBy: per-row output, driver hash is order-insensitive


ORACLE_ASOF_LATEST_ORDER = """
WITH orders_d AS (
    SELECT o_custkey, o_orderdate,
           max(o_orderkey) AS last_order_key,
           arg_max(o_totalprice, o_orderkey) AS last_order_price
    FROM orders
    GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, e.ts, o.last_order_key, o.last_order_price
FROM events e ASOF LEFT JOIN orders_d o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
ORDER BY e.event_id
"""


def q_asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for every event, the customer's EARLIEST order at or
    after the event time — the attribution/conversion-lag twin of the
    backward point-in-time lookup. Same single sort-exchange plan, scanned
    in descending time order (operators/temporal.py::as_of_join
    direction="forward"); oracle is DuckDB's native forward ASOF JOIN."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.min("o_orderkey").alias("next_order_key"),
            F.min_by("o_totalprice", "o_orderkey").alias("next_order_price"),
        )
    )
    orders = orders.withColumnRenamed("o_custkey", "user_id")
    return (
        as_of_join(events, orders, on="user_id",
                   left_ts="ts", right_ts="o_orderdate",
                   direction="forward")
        .select("event_id", "user_id", "ts",
                "next_order_key", "next_order_price")
    )


ORACLE_ASOF_NEXT_ORDER = """
WITH orders_d AS (
    SELECT o_custkey, o_orderdate,
           min(o_orderkey) AS next_order_key,
           arg_min(o_totalprice, o_orderkey) AS next_order_price
    FROM orders
    GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, e.ts, o.next_order_key, o.next_order_price
FROM events e ASOF LEFT JOIN orders_d o
  ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
ORDER BY e.event_id
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity sessions with a 30-minute inactivity gap: native
    session_window aggregation (start, end=last+gap, event count, value
    sum)."""
    events = load_table(spark, sf_dir, "events")
    return (
        session_rollup(
            events, key="user_id", ts="ts", gap=SESSION_GAP,
            aggs=[
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            ],
        )
        .select("user_id", "session_start", "session_end",
                "n_events", "total_value")
        .orderBy("user_id", "session_start")
    )


ORACLE_SESSIONIZATION = """
WITH flagged AS (
    SELECT user_id, ts, value,
           -- Spark merges touching windows: an event exactly gap after the
           -- previous one continues the session, so new-session is strict >
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
    SELECT *, SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       round(SUM(value), 4) AS total_value
FROM sess
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


# ---------------------------------------------------------------------------
# Range (point-in-interval) join: views within 10 minutes after an error.
# ---------------------------------------------------------------------------

def q_error_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each error event, the same user's view activity in the 10 minutes
    that follow — a banded-equi-join range join (operators/temporal.py::
    interval_join), never a nested-loop theta join. Errors with no views in
    window are absent (inner semantics)."""
    from ..operators.temporal import interval_join

    events = load_table(spark, sf_dir, "events")
    views = (events.filter(F.col("event_type") == "view")
             .select("user_id", F.col("ts").alias("view_ts"),
                     F.col("value").alias("view_value")))
    errors = (events.filter(F.col("event_type") == "error")
              .select(F.col("event_id").alias("error_id"), "user_id",
                      F.col("ts").alias("win_start"))
              .withColumn("win_end",
                          F.col("win_start") + F.expr("INTERVAL 10 MINUTES")))
    matched = interval_join(
        views, errors, left_ts="view_ts",
        right_start="win_start", right_end="win_end",
        keys=("user_id",), bucket_seconds=600)
    return (
        matched.groupBy("error_id")
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.round(F.sum("view_value"), 4).alias("impacted_value"),
        )
        .orderBy("error_id")
    )


ORACLE_ERROR_IMPACT = """
SELECT e.event_id AS error_id,
       COUNT(*) AS n_views,
       round(SUM(v.value), 4) AS impacted_value
FROM events e
JOIN events v
  ON v.user_id = e.user_id
 AND v.event_type = 'view'
 AND v.ts >= e.ts
 AND v.ts <= e.ts + INTERVAL 10 MINUTE
WHERE e.event_type = 'error'
GROUP BY e.event_id
ORDER BY error_id
"""


# ---------------------------------------------------------------------------
# Time-series gap-fill: dense hourly spine + forward-fill interpolation.
# ---------------------------------------------------------------------------

def q_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (event_type × hour) series: empty hours appear with
    n_events=0, and hour_value is forward-filled from the last observed
    hour (``last(..., ignorenulls)`` — the time-series interpolation
    pattern).

    The spine is sequence()+explode over the global [min,max] hour range
    crossed with the 5 distinct types — generated, not scanned, so its cost
    is O(hours×types) regardless of fact-table size. The left join back to
    the hourly aggregate broadcasts the spine when small or shuffles on
    (event_type, hour) otherwise; the forward fill is one window shuffle
    on event_type.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.round(F.sum("value"), 4).alias("hour_value"),
        )
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"))
    types = events.select("event_type").distinct()
    spine = (
        types.crossJoin(bounds)
        .select(
            "event_type",
            F.explode(F.expr("sequence(mn, mx, INTERVAL 1 HOUR)"))
             .alias("hour"),
        )
    )
    w = (
        Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type", "hour",
            F.coalesce(F.col("n_raw"), F.lit(0)).alias("n_events"),
            "hour_value",
            F.last("hour_value", ignorenulls=True).over(w)
             .alias("value_ffill"),
        )
        .orderBy("event_type", "hour")
    )


ORACLE_GAPFILL_HOURLY = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           COUNT(*) AS n_raw, round(SUM(value), 4) AS hour_value
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT date_trunc('hour', MIN(ts)) AS mn,
           date_trunc('hour', MAX(ts)) AS mx
    FROM events
), spine AS (
    SELECT t.event_type, s.hour
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
                FROM bounds) s
)
SELECT s.event_type, s.hour,
       COALESCE(h.n_raw, 0) AS n_events,
       h.hour_value,
       last_value(h.hour_value IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
FROM spine s
LEFT JOIN hourly h ON s.event_type = h.event_type AND s.hour = h.hour
ORDER BY s.event_type, s.hour
"""


# ---------------------------------------------------------------------------
# Ordered-sequence funnel within a session window.
# ---------------------------------------------------------------------------

def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel per user: how many users have a view, a
    view→click in order, and a view→click→purchase in order (first
    occurrences must be strictly later at each step). Sequence-pattern
    analytics as conditional aggregates over first-event timestamps — one
    groupBy(user) pass, no joins, no per-user iteration."""
    events = load_table(spark, sf_dir, "events")
    first_of = {
        t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
        for t in ("view", "click", "purchase")
    }
    per_user = events.groupBy("user_id").agg(
        first_of["view"].alias("t_view"),
        first_of["click"].alias("t_click"),
        first_of["purchase"].alias("t_purchase"),
    )
    stage1 = F.col("t_view").isNotNull()
    stage2 = stage1 & F.col("t_click").isNotNull() \
        & (F.col("t_click") > F.col("t_view"))
    stage3 = stage2 & F.col("t_purchase").isNotNull() \
        & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count_if(stage1).alias("viewed"),
        F.count_if(stage2).alias("then_clicked"),
        F.count_if(stage3).alias("then_purchased"),
    )


ORACLE_SESSION_FUNNEL = """
WITH per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events
    GROUP BY user_id
)
SELECT COUNT(*) FILTER (t_view IS NOT NULL) AS viewed,
       COUNT(*) FILTER (t_view IS NOT NULL AND t_click > t_view)
           AS then_clicked,
       COUNT(*) FILTER (t_view IS NOT NULL AND t_click > t_view
                        AND t_purchase > t_click) AS then_purchased
FROM per_user
"""


# ---------------------------------------------------------------------------
# Weekly retention cohorts.
# ---------------------------------------------------------------------------

def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active week, with the count
    still active 1 and 2 weeks later. One window pass stamps each user's
    cohort; conditional aggregates count week offsets — the standard
    retention matrix without self-joins."""
    events = load_table(spark, sf_dir, "events")
    user_weeks = (
        events.select(
            "user_id",
            F.date_trunc("week", F.col("ts")).alias("week"))
        .distinct()
    )
    w = Window.partitionBy("user_id")
    stamped = user_weeks.withColumn("cohort", F.min("week").over(w))
    offset = F.datediff(F.col("week"), F.col("cohort")) / 7
    return (
        stamped.groupBy("cohort")
        .agg(
            F.countDistinct("user_id").alias("cohort_users"),
            F.countDistinct(F.when(offset == 1, F.col("user_id")))
             .alias("active_week1"),
            F.countDistinct(F.when(offset == 2, F.col("user_id")))
             .alias("active_week2"),
        )
        .orderBy("cohort")
    )


ORACLE_RETENTION_COHORTS = """
WITH user_weeks AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
), stamped AS (
    SELECT user_id, week,
           MIN(week) OVER (PARTITION BY user_id) AS cohort
    FROM user_weeks
)
SELECT cohort,
       COUNT(DISTINCT user_id) AS cohort_users,
       COUNT(DISTINCT CASE WHEN date_diff('day', cohort, week) / 7 = 1
                           THEN user_id END) AS active_week1,
       COUNT(DISTINCT CASE WHEN date_diff('day', cohort, week) / 7 = 2
                           THEN user_id END) AS active_week2
FROM stamped
GROUP BY cohort
ORDER BY cohort
"""


# ---------------------------------------------------------------------------
# Sequence mining: most common opening event paths
# ---------------------------------------------------------------------------

_PATH_LEN = 3
_PATH_TOPK = 10


def q_common_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most common opening behavior paths: each user's first three
    events (by time, event_id tiebreak) joined into a path string, counted
    across users.

    collect_list is order-nondeterministic under parallel merge, so the
    deterministic distributed recipe is collect structs → sort_array →
    slice → transform — the sort happens per group AFTER the shuffle, on
    arrays bounded by events-per-user, never a global sort. One exchange
    (the groupBy) plus a TakeOrdered for the top-k; at 100 TB the only
    risk is a pathological user with millions of events, which the
    slice-after-sort bounds to memory-per-group, not cluster state.
    """
    events = load_table(spark, sf_dir, "events")
    per_user = (
        events.groupBy("user_id")
        .agg(F.sort_array(F.collect_list(
            F.struct("ts", "event_id", "event_type"))).alias("seq"))
        .select(F.concat_ws(
            " > ",
            F.transform(F.slice("seq", 1, _PATH_LEN),
                        lambda s: s["event_type"])).alias("path"),
                F.size("seq").alias("n_events"))
        .filter(F.col("n_events") >= _PATH_LEN)
    )
    return (
        per_user.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(_PATH_TOPK)
    )


ORACLE_COMMON_PATHS = f"""
WITH per_user AS (
    SELECT user_id,
           array_to_string(
               (list(event_type ORDER BY ts, event_id))[1:{_PATH_LEN}],
               ' > ') AS path,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
)
SELECT path, COUNT(*) AS n_users
FROM per_user
WHERE n_events >= {_PATH_LEN}
GROUP BY path
ORDER BY n_users DESC, path ASC
LIMIT {_PATH_TOPK}
"""


# ---------------------------------------------------------------------------
# Sliding distinct: rolling 7-day active users
# ---------------------------------------------------------------------------

_ROLL_DAYS = 7


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the sliding-distinct
    problem. COUNT(DISTINCT) cannot slide inside a window frame (distinct
    state is not subtractable), so the exact distributed recipe is:
    (1) dedup to (day, user) pairs — one exchange that ALSO collapses the
    fact table to at most |days|×|users| rows before any fan-out;
    (2) fan each pair out to the ≤7 window-end days it can contribute to —
    a map-side explode of a generated day sequence, NOT a range join, so
    no nested-loop ever appears in the plan;
    (3) keep only window-end days that actually occur (broadcast equi
    semi-join against the observed-day spine, matching the oracle's
    semantics) and count distinct users per day — total fan-out is bounded
    by 7× the deduped pairs, independent of raw event volume.
    At 100 TB the approximate alternative is per-day HLL sketches merged
    over the 7-day frame (mergeable, subtract-free) — implemented as
    `q_rolling_active_users_hll` below, gated on the same exact counts
    plus the sketch accuracy envelope; this query is the exact path.
    """
    events = load_table(spark, sf_dir, "events")
    pairs = (events
             .select(F.date_trunc("day", F.col("ts")).alias("day"), "user_id")
             .distinct())
    spine = pairs.select("day").distinct().withColumnRenamed("day", "win_day")
    fanned = pairs.select(
        "user_id",
        F.explode(F.sequence(
            F.col("day"),
            F.timestamp_add("DAY", F.lit(_ROLL_DAYS - 1), F.col("day")),
            F.expr("INTERVAL 1 DAY"))).alias("win_day"))
    return (
        fanned.join(F.broadcast(spine), "win_day", "left_semi")
        .groupBy("win_day")
        .agg(F.count_distinct("user_id").alias("active_users_7d"))
        .orderBy("win_day")
    )


ORACLE_ROLLING_ACTIVE_USERS = f"""
WITH pairs AS (
    SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
), spine AS (
    SELECT DISTINCT day AS win_day FROM pairs
)
SELECT s.win_day,
       COUNT(DISTINCT p.user_id) AS active_users_7d
FROM spine s
JOIN pairs p
  ON p.day <= s.win_day
 AND p.day > s.win_day - INTERVAL {_ROLL_DAYS} DAY
GROUP BY s.win_day
ORDER BY s.win_day
"""


_HLL_LGK = 12  # 4096 registers → relative std err ≈ 1.04/√4096 ≈ 1.6%


def q_rolling_active_users_hll(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """The 100 TB path `q_rolling_active_users` promises: per-day HLL
    sketches (Spark's native datasketches `hll_sketch_agg`) merged over
    the 7-day frame with `hll_union_agg` — sliding COUNT(DISTINCT) via
    MERGEABLE state, which is the property exact distinct lacks (distinct
    sets are not subtractable OR union-summable; HLL registers are, so a
    1000-executor run ships 4 KB per day-partition instead of re-touching
    the raw events per window).

    Invariant-oracle pattern (the heavy_hitters/embed_documents recipe):
    the estimate itself has no DuckDB twin (datasketches binary), so the
    query ALSO computes the exact rolling distinct (same plan as the
    exact query) and the gate pins (a) the exact counts value-for-value
    and (b) `hll_within_5pct` — the sketch's accuracy envelope at
    lgK=12 (relSE ≈ 1.6%, so 5% is >3σ; deterministic for fixed
    input + config — verified at all three test SFs). A sketch bug
    (wrong merge, register corruption) flips the boolean and fails the
    value-hash.

    Plan: ONE (day, user) dedup exchange feeds both arms; sketches are
    one row per day, the union fan-out is ≤7 rows per day — everything
    after the dedup is day-cardinality.
    """
    events = load_table(spark, sf_dir, "events")
    pairs = (events
             .select(F.date_trunc("day", F.col("ts")).alias("day"),
                     "user_id")
             .distinct()
             .localCheckpoint())  # feeds sketch arm + exact arm once
    spine = pairs.select("day").distinct().withColumnRenamed("day",
                                                             "win_day")
    win_days = F.explode(F.sequence(
        F.col("day"),
        F.timestamp_add("DAY", F.lit(_ROLL_DAYS - 1), F.col("day")),
        F.expr("INTERVAL 1 DAY"))).alias("win_day")
    # sketch arm: one 4 KB sketch per day, fanned to ≤7 window-end days,
    # register-wise union per window — never touches users again
    per_day = (pairs.groupBy("day")
               .agg(F.hll_sketch_agg("user_id", F.lit(_HLL_LGK))
                    .alias("sk")))
    est = (per_day.select("sk", win_days)
           .join(F.broadcast(spine), "win_day", "left_semi")
           .groupBy("win_day")
           .agg(F.hll_sketch_estimate(
               F.hll_union_agg("sk", F.lit(True))).alias("hll_est")))
    # exact arm (the oracle-checkable truth, same recipe as the exact
    # query): fan deduped pairs to their window-end days, count distinct
    exact = (pairs.select("user_id", win_days)
             .join(F.broadcast(spine), "win_day", "left_semi")
             .groupBy("win_day")
             .agg(F.count_distinct("user_id").alias("active_users_7d")))
    return (exact.join(est, "win_day")
            .select("win_day", "active_users_7d",
                    (F.abs(F.col("hll_est") - F.col("active_users_7d"))
                     <= 0.05 * F.col("active_users_7d"))
                    .alias("hll_within_5pct"))
            .orderBy("win_day"))


ORACLE_ROLLING_ACTIVE_USERS_HLL = f"""
WITH pairs AS (
    SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
), spine AS (
    SELECT DISTINCT day AS win_day FROM pairs
)
SELECT s.win_day,
       COUNT(DISTINCT p.user_id) AS active_users_7d,
       TRUE AS hll_within_5pct
FROM spine s
JOIN pairs p
  ON p.day <= s.win_day
 AND p.day > s.win_day - INTERVAL {_ROLL_DAYS} DAY
GROUP BY s.win_day
ORDER BY s.win_day
"""


def q_streaming_rolling_distinct_hll(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Sliding 7-day COUNT(DISTINCT) where the per-day state is built by
    STRUCTURED STREAMING: events stream micro-batched into per-day HLL
    sketches (``hll_sketch_agg`` — registers merge across micro-batches,
    so the streaming state is |days| × 4 KB regardless of event volume),
    drained, then window-unioned and estimated in batch exactly like
    ``q_rolling_active_users_hll``. This is the only sliding-distinct
    that works on an unbounded stream at 100 TB: exact distinct state
    grows with users seen, sketch registers don't.

    Fourth member of the streaming=batch gate family, and the first with
    MERGEABLE-SKETCH state (the other three are sum/count rollups).
    Shares ORACLE_ROLLING_ACTIVE_USERS_HLL with the batch query — the
    exact arm (computed batch-side from the same parquet) is pinned
    value-for-value and the sketch arm through the same
    ``hll_within_5pct`` accuracy envelope (>3σ at lgK=12, deterministic
    for fixed input + config), so one oracle pins two independent plans:
    a sketch-merge bug ANYWHERE across micro-batch boundaries flips the
    boolean and fails the value hash.
    """
    from ..session import run_concurrently
    from ..sources.batch import load_table_stream
    from ..streaming.pipeline import drain_stream_to_df

    stream = load_table_stream(spark, sf_dir, "events")
    # duplicates are irrelevant to HLL (insert is idempotent), so the
    # stream needs no (day, user) dedup exchange — register merge absorbs
    # re-deliveries and micro-batch boundaries alike
    per_day_sk = (stream
                  .select(F.date_trunc("day", F.col("ts")).alias("day"),
                          "user_id")
                  .groupBy("day")
                  .agg(F.hll_sketch_agg("user_id", F.lit(_HLL_LGK))
                       .alias("sk")))
    # the drain and the batch exact arm are independent until the final
    # join; run them as concurrent jobs (guide §2.6, the knn_ivf recipe)
    # so the pairs distinct back-fills cores while the drain sits in
    # MicroBatchExecution's driver-side machinery. (The drain temporarily
    # dials session shuffle partitions — pipeline.py documents that the
    # concurrently planned batch arm may plan at the state dial's count,
    # which changes no results, only task width of a tiny distinct.)
    def _drain():
        return drain_stream_to_df(per_day_sk, "stream_hll_day")

    def _pairs():
        return (load_table(spark, sf_dir, "events")
                .select(F.date_trunc("day", F.col("ts")).alias("day"),
                        "user_id")
                .distinct()
                .localCheckpoint())  # feeds spine + exact arm + semi-join

    per_day, pairs = run_concurrently(_drain, _pairs)
    spine = pairs.select("day").distinct().withColumnRenamed("day",
                                                             "win_day")
    win_days = F.explode(F.sequence(
        F.col("day"),
        F.timestamp_add("DAY", F.lit(_ROLL_DAYS - 1), F.col("day")),
        F.expr("INTERVAL 1 DAY"))).alias("win_day")
    est = (per_day.select("sk", win_days)
           .join(F.broadcast(spine), "win_day", "left_semi")
           .groupBy("win_day")
           .agg(F.hll_sketch_estimate(
               F.hll_union_agg("sk", F.lit(True))).alias("hll_est")))
    exact = (pairs.select("user_id", win_days)
             .join(F.broadcast(spine), "win_day", "left_semi")
             .groupBy("win_day")
             .agg(F.count_distinct("user_id").alias("active_users_7d")))
    return (exact.join(est, "win_day")
            .select("win_day", "active_users_7d",
                    (F.abs(F.col("hll_est") - F.col("active_users_7d"))
                     <= 0.05 * F.col("active_users_7d"))
                    .alias("hll_within_5pct"))
            .orderBy("win_day"))


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a changelog: each user's event_type
    acts as the tracked attribute; consecutive changes become validity
    ranges [valid_from, valid_to) via lead() over the per-user timeline,
    with NULL valid_to marking the current row.

    One sort-exchange on the key — the gaps-and-islands sibling of
    sessionization. Consecutive-duplicate states are collapsed first
    (lag() != current), so ranges are maximal. This table is what the
    as-of/interval joins consume for point-in-time dimension lookups.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.col("event_type").alias("state"))
    w = Window.partitionBy("user_id").orderBy("ts", "state")
    collapsed = (
        events
        .withColumn("prev_state", F.lag("state").over(w))
        .filter(F.col("prev_state").isNull()
                | (F.col("prev_state") != F.col("state")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "state")
    return (
        collapsed
        .withColumn("valid_to", F.lead("ts").over(w2))
        .select("user_id", "state", F.col("ts").alias("valid_from"),
                "valid_to",
                F.col("valid_to").isNull().alias("is_current"))
        .orderBy("user_id", "valid_from", "state")
    )


ORACLE_SCD2_HISTORY = """
WITH ordered AS (
  SELECT user_id, ts, event_type AS state,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_type) AS prev_state
  FROM events
), collapsed AS (
  SELECT user_id, ts, state FROM ordered
  WHERE prev_state IS NULL OR prev_state <> state
)
SELECT user_id, state, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, state) AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, state) IS NULL
           AS is_current
FROM collapsed
ORDER BY user_id, valid_from, state
"""


# ---------------------------------------------------------------------------
# Last-touch conversion attribution (7-day lookback)
# ---------------------------------------------------------------------------

_ATTR_DAYS = 7


def q_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's most
    recent preceding click within 7 days (ties at the same timestamp go to
    the click); purchases with no qualifying click are 'organic'. Channel
    is a deterministic stand-in derived from the click's props
    (``k % 4``) — swap for a real channel column without touching the
    mechanics.

    The classic join-free formulation: union clicks and purchases, ONE
    window per user ordered by time carries the last non-null click
    (``last(..., ignorenulls)``) forward onto each purchase row — the same
    one-shuffle forward-fill the as-of join uses, so the fact is exchanged
    once on user_id and never self-joined. At 100 TB the alternative
    (purchases ⋈ clicks on user + range) shuffles both sides AND explodes
    dense users; this stays linear.
    """
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    clicks = (events.filter(F.col("event_type") == "click")
              .select("user_id", "ts",
                      F.concat(F.lit("ch"), (k % 4).cast("string"))
                      .alias("channel"),
                      F.lit(None).cast("double").alias("value"),
                      F.lit("c").alias("kind")))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts",
                         F.lit(None).cast("string").alias("channel"),
                         "value", F.lit("p").alias("kind")))
    w = (Window.partitionBy("user_id").orderBy("ts", "kind")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = (
        clicks.unionByName(purchases)
        .withColumn("last_channel", F.last("channel", ignorenulls=True).over(w))
        .withColumn("last_click_ts",
                    F.last(F.when(F.col("kind") == "c", F.col("ts")),
                           ignorenulls=True).over(w))
    )
    attributed = (
        carried.filter(F.col("kind") == "p")
        .withColumn(
            "attributed_channel",
            F.when(
                F.col("last_click_ts")
                >= F.timestamp_add("DAY", F.lit(-_ATTR_DAYS), F.col("ts")),
                F.col("last_channel"))
            .otherwise(F.lit("organic")))
    )
    return (
        attributed.groupBy("attributed_channel")
        .agg(F.count(F.lit(1)).alias("n_conversions"),
             F.round(F.sum("value"), 4).alias("attributed_value"))
        .orderBy("attributed_channel")
    )


ORACLE_CONVERSION_ATTRIBUTION = f"""
WITH unioned AS (
    SELECT user_id, ts,
           'ch' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 4
                        AS VARCHAR) AS channel,
           CAST(NULL AS DOUBLE) AS value, 'c' AS kind
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT user_id, ts, NULL, value, 'p'
    FROM events WHERE event_type = 'purchase'
), carried AS (
    SELECT *,
           last_value(channel IGNORE NULLS) OVER w AS last_channel,
           last_value(CASE WHEN kind = 'c' THEN ts END IGNORE NULLS)
               OVER w AS last_click_ts
    FROM unioned
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), attributed AS (
    SELECT CASE WHEN last_click_ts >= ts - INTERVAL {_ATTR_DAYS} DAY
                THEN last_channel ELSE 'organic' END AS attributed_channel,
           value
    FROM carried WHERE kind = 'p'
)
SELECT attributed_channel,
       COUNT(*) AS n_conversions,
       round(SUM(value), 4) AS attributed_value
FROM attributed
GROUP BY attributed_channel
ORDER BY attributed_channel
"""


# ---------------------------------------------------------------------------
# Sequence pattern matching (MATCH_RECOGNIZE-style, regex over event codes)
# ---------------------------------------------------------------------------

# event types map to unique initials: click→c error→e purchase→p signup→s view→v
_SEQ_PATTERNS = ["vc+p", "ee+", "sv"]


def q_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern analytics: encode each user's
    time-ordered event history as a code string (one letter per event) and
    count regex pattern occurrences — e.g. ``vc+p`` = a view, then one or
    more clicks, then a purchase, contiguously. Complements the funnel
    query (first-occurrence ordering) with full-history, repetition-aware
    patterns — the standard SQL engines expose as MATCH_RECOGNIZE, which
    Spark lacks; the encode-then-regex formulation is the scalable
    equivalent for per-entity histories.

    One groupBy(user) exchange builds every user's sequence string
    (sort_array over collected (ts, code) structs — deterministic under
    same-ts ties because the code is part of the sort key); the pattern
    sweep is a literal-pattern projection over |users| rows. Per-user
    history length is bounded in practice (and chunkable by time window
    when it is not). Matching is non-overlapping left-to-right in both
    engines.
    """
    events = load_table(spark, sf_dir, "events")
    seqs = (
        events.groupBy("user_id")
        .agg(F.array_join(
            F.transform(
                F.sort_array(F.collect_list(
                    F.struct(F.col("ts"),
                             F.substring("event_type", 1, 1).alias("c")))),
                lambda x: x["c"]),
            "").alias("seq"))
    )
    per_pattern = [
        seqs.select(
            F.lit(p).alias("pattern"),
            F.count_if(F.regexp_count(F.col("seq"), F.lit(p)) > 0)
            .alias("users_matched"),
            F.sum(F.regexp_count(F.col("seq"), F.lit(p))).cast("bigint")
            .alias("total_occurrences"))
        for p in _SEQ_PATTERNS
    ]
    out = per_pattern[0]
    for df in per_pattern[1:]:
        out = out.unionByName(df)
    return out.orderBy("pattern")


ORACLE_EVENT_PATTERN_MATCH = """
WITH seqs AS (
    SELECT user_id,
           string_agg(substring(event_type, 1, 1), ''
                      ORDER BY ts, substring(event_type, 1, 1)) AS seq
    FROM events GROUP BY user_id
), counts AS (
    SELECT 'vc+p' AS pattern,
           len(regexp_extract_all(seq, 'vc+p')) AS n, seq FROM seqs
    UNION ALL
    SELECT 'ee+', len(regexp_extract_all(seq, 'ee+')), seq FROM seqs
    UNION ALL
    SELECT 'sv', len(regexp_extract_all(seq, 'sv')), seq FROM seqs
)
SELECT pattern,
       COUNT(*) FILTER (WHERE n > 0) AS users_matched,
       CAST(SUM(n) AS BIGINT) AS total_occurrences
FROM counts
GROUP BY pattern
ORDER BY pattern
"""


# ---------------------------------------------------------------------------
# Time-series similarity search (z-normalized similar-day pairs)
# ---------------------------------------------------------------------------

_SIMDAY_TOPK = 5


def q_similar_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search: for each event type, the 5 most
    similar day-pairs by z-normalized euclidean distance over their hourly
    profiles — the "find days that behaved like this one" query behind
    anomaly triage and seasonality discovery (cf. distributed time-series
    similarity search, EDBT 2019; z-normalized euclidean is the standard
    UCR-suite baseline distance).

    Shape: hourly rollup (one fact exchange) → per-day z-normalization as
    a window over the rollup (means/σ rounded before use — membership and
    ranking must not hinge on accumulation ulps) → self-join on
    (type, hour) so the pairwise distance is a JOIN + re-aggregation of
    |days|²-bounded rows per type, never a fact self-join → top-k window.
    At 100 TB the rollup is the only fact-sized stage; day-vector counts
    grow with the calendar, not the data.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.hour("ts").alias("hod"))
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    day_w = Window.partitionBy("event_type", "day")
    z = (
        hourly
        .withColumn("mu", F.round(F.avg("v").over(day_w), 6))
        .withColumn("sigma", F.round(F.stddev_samp("v").over(day_w), 6))
        .filter(F.col("sigma") > 0)
        .select("event_type", "day", "hod",
                F.round((F.col("v") - F.col("mu")) / F.col("sigma"), 6)
                .alias("z"))
    )
    a, b = z.alias("a"), z.alias("b")
    dist = (
        a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
               & (F.col("a.hod") == F.col("b.hod"))
               & (F.col("a.day") < F.col("b.day")))
        .groupBy(F.col("a.event_type").alias("event_type"),
                 F.col("a.day").alias("day_a"),
                 F.col("b.day").alias("day_b"))
        .agg(F.round(F.sqrt(F.sum(F.pow(F.col("a.z") - F.col("b.z"), 2))), 4)
             .alias("distance"),
             F.count(F.lit(1)).alias("shared_hours"))
    )
    rank_w = Window.partitionBy("event_type").orderBy(
        "distance", "day_a", "day_b")
    return (
        dist.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= _SIMDAY_TOPK)
        .select("event_type", "rank", "day_a", "day_b",
                "distance", "shared_hours")
        .orderBy("event_type", "rank")
    )


ORACLE_SIMILAR_DAYS = f"""
WITH hourly AS (
    SELECT event_type, date_trunc('day', ts) AS day, hour(ts) AS hod,
           round(SUM(value), 6) AS v
    FROM events GROUP BY 1, 2, 3
), z AS (
    SELECT event_type, day, hod,
           round((v - round(AVG(v) OVER w, 6))
                 / round(stddev_samp(v) OVER w, 6), 6) AS z
    FROM hourly
    WINDOW w AS (PARTITION BY event_type, day)
    QUALIFY round(stddev_samp(v) OVER w, 6) > 0
), dist AS (
    SELECT a.event_type, a.day AS day_a, b.day AS day_b,
           round(sqrt(SUM((a.z - b.z) * (a.z - b.z))), 4) AS distance,
           COUNT(*) AS shared_hours
    FROM z a JOIN z b
      ON a.event_type = b.event_type AND a.hod = b.hod AND a.day < b.day
    GROUP BY 1, 2, 3
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY distance, day_a, day_b) AS rank
    FROM dist
)
SELECT event_type, rank, day_a, day_b, distance, shared_hours
FROM ranked WHERE rank <= {_SIMDAY_TOPK}
ORDER BY event_type, rank
"""


# ---------------------------------------------------------------------------
# Event transition matrix (first-order Markov chain over user journeys)
# ---------------------------------------------------------------------------

def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user journeys: for every
    consecutive event pair within a user's time-ordered history, count
    (from_type → to_type) and the row-normalized transition probability —
    the journey model behind next-action prediction and funnel-leak
    hunting (which state bleeds users to 'error'?).

    One window (lead over the user partition) on one user_id exchange
    builds the pairs; the |types|² matrix aggregates from it with partial
    combine, and row probabilities are a window over the 25-row matrix.
    Same-timestamp ties order by event_type so the chain is engine-exact.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_type")
    pairs = (
        events.select("user_id", "ts", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    row_w = Window.partitionBy("event_type")
    return (
        pairs.groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .withColumn("p",
                    F.round(F.col("n_transitions")
                            / F.sum("n_transitions").over(row_w), 4))
        .select(F.col("event_type").alias("from_type"),
                F.col("next_type").alias("to_type"),
                "n_transitions", "p")
        .orderBy("from_type", "to_type")
    )


ORACLE_EVENT_TRANSITIONS = """
WITH pairs AS (
    SELECT event_type,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_type) AS next_type
    FROM events
), counted AS (
    SELECT event_type AS from_type, next_type AS to_type,
           COUNT(*) AS n_transitions
    FROM pairs WHERE next_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       round(n_transitions
             / SUM(n_transitions) OVER (PARTITION BY from_type), 4) AS p
FROM counted
ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# Conversion latency percentiles (time-to-convert distribution)
# ---------------------------------------------------------------------------

def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for users whose first purchase comes
    after their first view, the hours between the two — count plus exact
    p25/p50/p90 — the "how long does the funnel take" readout that pairs
    with the stage-count funnel (``q_session_funnel``).

    One groupBy(user) pass computes both first-event timestamps as
    conditional MIN aggregates (no self-join of the fact); the latency
    percentile runs over the |converting users| rollup. Sub-second-exact
    NTZ microsecond diffs; percentiles rounded for engine stability.
    """
    events = load_table(spark, sf_dir, "events")
    per_user = (
        events.groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "view",
                          F.col("ts"))).alias("t_view"),
             F.min(F.when(F.col("event_type") == "purchase",
                          F.col("ts"))).alias("t_purchase"))
        .filter(F.col("t_view").isNotNull()
                & F.col("t_purchase").isNotNull()
                & (F.col("t_purchase") > F.col("t_view")))
        .withColumn(
            "hours_to_convert",
            F.round(F.timestamp_diff("MICROSECOND", F.col("t_view"),
                                     F.col("t_purchase"))
                    / F.lit(3_600_000_000.0), 6))
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_converters"),
        F.round(F.percentile("hours_to_convert", 0.25), 4).alias("p25_hours"),
        F.round(F.percentile("hours_to_convert", 0.5), 4).alias("p50_hours"),
        F.round(F.percentile("hours_to_convert", 0.9), 4).alias("p90_hours"),
    )


ORACLE_CONVERSION_LATENCY = """
WITH per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events GROUP BY user_id
), converters AS (
    SELECT round((epoch_us(t_purchase) - epoch_us(t_view)) / 3600000000.0, 6)
               AS hours_to_convert
    FROM per_user
    WHERE t_view IS NOT NULL AND t_purchase IS NOT NULL
      AND t_purchase > t_view
)
SELECT COUNT(*) AS n_converters,
       round(quantile_cont(hours_to_convert, 0.25), 4) AS p25_hours,
       round(quantile_cont(hours_to_convert, 0.5), 4) AS p50_hours,
       round(quantile_cont(hours_to_convert, 0.9), 4) AS p90_hours
FROM converters
"""


# ---------------------------------------------------------------------------
# Streaming hourly rollup — the oracle-checked STREAMING query
# ---------------------------------------------------------------------------

def q_streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour × type rollup computed by STRUCTURED STREAMING and verified by
    the driver's batch SQL oracle: the events table is consumed as a
    micro-batched file stream (``sources/batch.py::load_table_stream``),
    aggregated with the same expressions as the batch ``hourly_rollup``,
    drained with an availableNow trigger through a foreachBatch parquet
    sink (distributed — the hour×type result grows with the time span, so
    it must not collect to the driver), and the final table returned.
    Streaming ≡ batch on the same input IS the exactly-once correctness
    statement — here the DuckDB gate checks it per round.

    Complete output mode keeps every window in the (|hours|×|types|-sized)
    state store — the right trade for a rollup whose result set is bounded;
    the append-mode + watermark variant of the same aggregation is
    ``streaming/pipeline.py::hourly_rollup_stream`` (state evicted, late
    data bounded), exercised by the streaming tests.
    """
    from ..functions.rounding import decimal_sum, round_half_up
    from ..sources.batch import load_table_stream
    from ..streaming.pipeline import drain_stream_to_parquet

    stream = load_table_stream(spark, sf_dir, "events")
    # decimal-exact sum + engine-exact rounding (functions/rounding.py):
    # double accumulation across micro-batches would otherwise differ from
    # the oracle's sequential sum at rounding boundaries
    rolled = (
        stream
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                 F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             round_half_up(decimal_sum(F.col("value")), 4)
             .alias("total_value"))
    )
    return drain_stream_to_parquet(rolled, "stream_rollup") \
        .orderBy("hour", "event_type")


ORACLE_STREAMING_HOURLY_ROLLUP = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       floor(CAST(SUM(CAST(value AS DECIMAL(26,6))) AS DOUBLE) * 10000
             + 0.5) / 10000 AS total_value
FROM events
GROUP BY 1, 2
ORDER BY hour, event_type
"""
