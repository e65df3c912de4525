"""Star-schema join queries — J1 (author enrichment, the reference's only
join, twitter_producer.py:69-71/:184-188) generalized to the full Spark join
surface the driver's TPC-H-ish testdata exercises: broadcast-hash dim joins,
semi/anti, windowed top-per-group, and aggregation-heavy scans.

Scale notes:
- Dim tables (region/nation/customer/supplier/part) are explicitly
  ``broadcast()`` — at 100 TB the fact side never shuffles for these joins;
  only the final small aggregate exchanges data.
- ``orderBy().limit(n)`` top-ks plan as TakeOrderedAndProject.
- Aggregates are partial (map-side) before the single shuffle — verify with
  ``.explain``: HashAggregate(partial) → Exchange → HashAggregate(final).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.batch import load_table


# ---------------------------------------------------------------------------
# J1 generalized: enrich a fact stream with a small dimension (broadcast).
# ---------------------------------------------------------------------------

def q_author_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events left-joined to customer (the author dim): the Spark twin of
    carrying `includes.users` beside each tweet. Broadcast left equi-join —
    zero shuffle of the fact side."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return (
        events.join(
            F.broadcast(customer),
            events.user_id == customer.c_custkey,
            "left",
        )
        .select(
            "event_id", "user_id", "event_type", "value",
            "c_name", "c_mktsegment",
        )
    )


ORACLE_AUTHOR_ENRICHMENT = """
SELECT event_id, user_id, event_type, value, c_name, c_mktsegment
FROM events LEFT JOIN customer ON events.user_id = customer.c_custkey
"""


def q_segment_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate: engagement per customer market segment."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return (
        events.join(F.broadcast(customer),
                    events.user_id == customer.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.countDistinct("user_id").alias("active_users"),
        )
        .orderBy(F.desc("event_count"), F.asc("c_mktsegment"))
    )


ORACLE_SEGMENT_ENGAGEMENT = """
SELECT c_mktsegment,
       COUNT(*) AS event_count,
       round(SUM(value), 4) AS total_value,
       COUNT(DISTINCT user_id) AS active_users
FROM events JOIN customer ON events.user_id = customer.c_custkey
GROUP BY c_mktsegment
ORDER BY event_count DESC, c_mktsegment ASC
"""


def q_streaming_segment_engagement(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The STREAM-STATIC join class, oracle-verified: events consumed as a
    micro-batched file stream, broadcast-joined per batch against the
    static customer dim (no streaming state for the join — the dim is
    re-resolved each micro-batch, which is also how slowly-changing dims
    refresh mid-stream), aggregated per segment in complete mode, drained
    with availableNow. Third member of the streaming≡batch gate family
    (summary = stateless pipeline, hourly rollup = event-time agg, this =
    stream-static join).

    Differences from the batch twin it mirrors: COUNT(DISTINCT) is not
    supported inside a streaming aggregation, and the double SUM must be
    decimal-exact to be micro-batch-order-independent (same policy as
    streaming_hourly_rollup)."""
    from ..functions.rounding import decimal_sum, round_half_up
    from ..sources.batch import load_table_stream
    from ..streaming.pipeline import drain_stream_to_df

    stream = load_table_stream(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    joined = stream.join(
        F.broadcast(customer),
        stream.user_id == customer.c_custkey, "inner")
    agg = (
        joined.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("event_count"),
             round_half_up(decimal_sum(F.col("value")), 4)
             .alias("total_value"))
    )
    return drain_stream_to_df(agg, "stream_segments") \
        .orderBy(F.desc("event_count"), F.asc("c_mktsegment"))


def _oracle_streaming_segment_engagement() -> str:
    from ..functions.rounding import sql_decimal_sum, sql_round_half_up

    total = sql_round_half_up(sql_decimal_sum("value"), 4)
    return f"""
SELECT c_mktsegment,
       COUNT(*) AS event_count,
       {total} AS total_value
FROM events JOIN customer ON events.user_id = customer.c_custkey
GROUP BY c_mktsegment
ORDER BY event_count DESC, c_mktsegment ASC
"""


ORACLE_STREAMING_SEGMENT_ENGAGEMENT = _oracle_streaming_segment_engagement()


# ---------------------------------------------------------------------------
# Multi-dim star join: orders ⋈ customer ⋈ nation ⋈ region.
# ---------------------------------------------------------------------------

def q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 4).alias("total_revenue"),
        )
        .orderBy(F.desc("total_revenue"), F.asc("r_name"))
    )


ORACLE_REVENUE_BY_REGION = """
SELECT r_name,
       COUNT(*) AS order_count,
       round(SUM(o_totalprice), 4) AS total_revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY total_revenue DESC, r_name ASC
"""


# ---------------------------------------------------------------------------
# TPC-H Q1 shape: the aggregation-heavy scan (bench headliner).
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 4)
             .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 4) AS sum_qty,
       round(SUM(l_extendedprice), 4) AS sum_base_price,
       round(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
       round(AVG(l_quantity), 4) AS avg_qty,
       round(AVG(l_extendedprice), 4) AS avg_price,
       round(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Top-k over join (TPC-H Q3 flavor).
# ---------------------------------------------------------------------------

def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 4).alias("total_spent"),
        )
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(10)
    )


ORACLE_TOP_CUSTOMERS = """
SELECT c_custkey, c_name,
       COUNT(*) AS order_count,
       round(SUM(o_totalprice), 4) AS total_spent
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Semi / anti joins.
# ---------------------------------------------------------------------------

def q_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no event activity — left anti join (NOT EXISTS).
    (events covers a small user range, so this is non-trivially selective.)"""
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    return (
        customer.join(events, customer.c_custkey == events.user_id, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


ORACLE_INACTIVE_CUSTOMERS = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
ORDER BY c_custkey
"""


def q_active_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment counts of customers that do have orders — left semi (EXISTS)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("customer_count"))
        .orderBy(F.desc("customer_count"), F.asc("c_mktsegment"))
    )


ORACLE_ACTIVE_CUSTOMER_SEGMENTS = """
SELECT c_mktsegment, COUNT(*) AS customer_count
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
ORDER BY customer_count DESC, c_mktsegment ASC
"""


# ---------------------------------------------------------------------------
# Window function: top order per customer (deterministic tiebreak).
# ---------------------------------------------------------------------------

def q_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_custkey")
    )


ORACLE_TOP_ORDER_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY o_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
    FROM orders
)
WHERE rn = 1
ORDER BY o_custkey
"""


# ---------------------------------------------------------------------------
# Rollup with grand total (A2's rollup form).
# ---------------------------------------------------------------------------

def q_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts by status × priority with subtotal/grand-total rows
    (ROLLUP) — the principled form of the reference's app-side grand total
    (sentiment_analysis.py:628)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy(
            F.asc_nulls_first("o_orderstatus"),
            F.asc_nulls_first("o_orderpriority"),
        )
    )


ORACLE_PRIORITY_ROLLUP = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS order_count,
       round(SUM(o_totalprice), 4) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


# ---------------------------------------------------------------------------
# Fact-to-fact join (TPC-H Q4 flavor): lineitem ⋈ orders on orderkey.
# ---------------------------------------------------------------------------

def q_priority_lineitem_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted lineitem revenue per order priority — the fact-to-fact
    join class. Unlike the dim joins above, neither side broadcasts at real
    scale: this plans as a shuffled join on l_orderkey/o_orderkey (AQE picks
    broadcast at toy SFs, sort-merge/shuffled-hash + skew-split beyond).
    Both inputs are pre-projected to join key + needed columns so the
    exchange moves 2-3 columns, not whole rows; at 100 TB the durable fix is
    co-bucketing both tables on orderkey (sources/layout.py), which removes
    the shuffle entirely."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .alias("disc_price"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("lineitem_count"),
            F.round(F.sum("disc_price"), 4).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_PRIORITY_LINEITEM_REVENUE = """
SELECT o_orderpriority,
       COUNT(*) AS lineitem_count,
       round(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# TPC-H Q9 flavor: profit contribution by supplier nation × brand.
# ---------------------------------------------------------------------------

def q_nation_brand_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROMO-part profit proxy per (supplier nation, part brand): the
    full-star shape touching every dimension of the testdata (part,
    supplier, nation) around the lineitem fact. The p_type filter prunes
    the broadcast part dim before the join; lineitem is pre-projected to
    4 columns so the (only) exchange is the final aggregate's."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .alias("revenue"),
        (F.col("l_quantity") * F.col("l_tax")).alias("tax_qty"))
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_type") == "PROMO")
            .select("p_partkey", "p_brand"))
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation),
              supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.sum("revenue"), 4).alias("revenue"),
            F.round(F.sum("tax_qty"), 4).alias("tax_quantity"),
        )
        .orderBy("n_name", "p_brand")
    )


ORACLE_NATION_BRAND_PROFIT = """
SELECT n_name, p_brand,
       COUNT(*) AS n_lineitems,
       round(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
       round(SUM(l_quantity * l_tax), 4) AS tax_quantity
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'PROMO'
GROUP BY n_name, p_brand
ORDER BY n_name, p_brand
"""


# ---------------------------------------------------------------------------
# FULL OUTER merge of two aggregated fact sides.
# ---------------------------------------------------------------------------

def q_customer_activity_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order spend FULL OUTER JOIN per-user event activity.

    The one join type the rest of the registry doesn't exercise. Both
    sides are pre-aggregated before the join, so the shuffled full-outer
    join carries one row per key per side (never the raw facts) — the
    scale-safe shape for reconciliation-style merges. Presence flags and
    COALESCE defaults make the unmatched halves explicit.
    """
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    spend = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_spend"))
    activity = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"))
    return (
        spend.join(activity, spend.o_custkey == activity.user_id,
                   "full_outer")
        .select(
            F.coalesce("o_custkey", "user_id").alias("cust_id"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            (F.col("o_custkey").isNotNull() & F.col("user_id").isNotNull())
            .alias("both_sides"),
        )
        .orderBy("cust_id")
    )


ORACLE_CUSTOMER_ACTIVITY_MERGE = """
WITH spend AS (
    SELECT o_custkey, COUNT(*) AS n_orders,
           round(SUM(o_totalprice), 4) AS total_spend
    FROM orders GROUP BY o_custkey
), activity AS (
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
)
SELECT COALESCE(o_custkey, user_id) AS cust_id,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(total_spend, 0.0) AS total_spend,
       COALESCE(n_events, 0) AS n_events,
       (o_custkey IS NOT NULL AND user_id IS NOT NULL) AS both_sides
FROM spend FULL OUTER JOIN activity ON o_custkey = user_id
ORDER BY cust_id
"""


# ---------------------------------------------------------------------------
# Manually salted skew join (operators/skew.py in the registry).
# ---------------------------------------------------------------------------

def q_skew_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue through a deterministically salted lineitem ⋈ part.

    Demonstrates the salting operator for the skew regime AQE can't fix
    (one key dominating a shuffle join): the part dim is replicated 8×,
    lineitem rows fan across salt buckets by xxhash64(l_orderkey), and the
    result is provably identical to the plain join (the oracle IS the
    plain join). At testdata scale the join would broadcast anyway — the
    query pins the salted plan's correctness, not its speed.
    """
    from ..operators.skew import salted_join

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand")
    joined = salted_join(lineitem, part, on="l_partkey",
                         salt_from="l_orderkey", num_salts=8)
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.sum(F.col("l_extendedprice")
                          * (F.lit(1.0) - F.col("l_discount"))), 4)
            .alias("revenue"),
        )
        .orderBy("p_brand")
    )


ORACLE_SKEW_SALTED_REVENUE = """
SELECT p_brand, COUNT(*) AS n_lineitems,
       round(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: HAVING over a fact aggregate, joined back to dims.
# ---------------------------------------------------------------------------

_BIG_ORDER_QTY = 260.0


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders: per-order quantity HAVING-filter, then enrich.

    The post-aggregation-filter family (TPC-H Q18): aggregate lineitem per
    order, keep the ~1% of orders above the quantity threshold, then join
    the tiny survivor set back to orders and customer. Order of operations
    is the scale story — the HAVING runs *before* the joins, so the join
    probe side is 1% of orders, not 100%. The survivor set is NOT hinted:
    it is corpus-derived (one row per qualifying order), so a forced
    broadcast would OOM if the threshold ever passed a large set — AQE's
    runtime size check broadcasts it when it is actually small (the plan
    lint in plans/lint.py forbids the hint).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > _BIG_ORDER_QTY)
        .select("l_orderkey", F.round("raw_qty", 4).alias("sum_qty"))
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(customer),
              orders.o_custkey == customer.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice",
                "sum_qty")
        .orderBy(F.desc("sum_qty"), F.asc("o_orderkey"))
    )


ORACLE_BIG_ORDERS = f"""
WITH big AS (
    SELECT l_orderkey, round(SUM(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(l_quantity) > {_BIG_ORDER_QTY}
)
SELECT c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY sum_qty DESC, o_orderkey ASC
"""


# ---------------------------------------------------------------------------
# TPC-H Q3 shape: shipping priority — date-split fact⋈fact⋈dim with top-k
# ---------------------------------------------------------------------------

_Q3_CUTOFF = "1998-07-01"
_Q3_SEGMENT = "BUILDING"
_Q3_TOPK = 10


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 unshipped-revenue orders for one market segment (TPC-H Q3).

    The date predicates split both facts *before* the join: orders placed
    before the cutoff, lineitems shipped after it — both reach the parquet
    scans as pushed filters, so at 100 TB each side reads a fraction of its
    row groups. The filtered customer segment (~1/5 of an already-small dim)
    broadcasts; lineitem⋈orders shuffles on orderkey only after both
    pre-filters. The final top-k is an ORDER BY + LIMIT that Catalyst plans
    as TakeOrderedAndProject — no global sort ever materializes.

    Reference parity: generalizes the recent-N + filter read pattern
    (sentiment_analysis.py:530-559) to a multi-table ranked read.
    """
    customer = load_table(spark, sf_dir, "customer") \
        .filter(F.col("c_mktsegment") == _Q3_SEGMENT)
    orders = load_table(spark, sf_dir, "orders") \
        .filter(F.col("o_orderdate") < F.lit(_Q3_CUTOFF).cast("timestamp_ntz"))
    lineitem = load_table(spark, sf_dir, "lineitem") \
        .filter(F.col("l_shipdate") > F.lit(_Q3_CUTOFF).cast("timestamp_ntz"))
    return (
        lineitem
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (F.lit(1.0) - F.col("l_discount"))), 4)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(_Q3_TOPK)
    )


ORACLE_SHIPPING_PRIORITY = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{_Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{_Q3_CUTOFF} 00:00:00'
  AND l_shipdate > TIMESTAMP '{_Q3_CUTOFF} 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT {_Q3_TOPK}
"""


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: min-equality join-back (all rows achieving a group minimum)
# ---------------------------------------------------------------------------

def q_cheapest_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every part offered at its type's minimum retail price (TPC-H Q2's
    correlated-min shape), ties included.

    Unlike the window/row_number top-1 (which picks ONE row per group) or
    min_by (one arbitrary minimizer), the Q2 shape is aggregate-then-
    equality-join-back: the per-group minimum is tiny (|types| rows), so it
    broadcasts and the fact side is re-probed map-side with zero extra
    shuffles — the second scan never moves. min is exact (no accumulation
    order), so the double-equality join-back is engine-stable.
    """
    part = load_table(spark, sf_dir, "part")
    mins = (part.groupBy("p_type").agg(F.min("p_retailprice").alias("min_price"))
            .withColumnRenamed("p_type", "min_type"))
    return (
        part.join(F.broadcast(mins),
                  (F.col("p_type") == F.col("min_type"))
                  & (F.col("p_retailprice") == F.col("min_price")))
        .select("p_type", "p_partkey", "p_name", "p_retailprice")
        .orderBy("p_type", "p_partkey")
    )


ORACLE_CHEAPEST_PARTS = """
WITH mins AS (
    SELECT p_type, MIN(p_retailprice) AS min_price
    FROM part GROUP BY p_type
)
SELECT p.p_type, p.p_partkey, p.p_name, p.p_retailprice
FROM part p
JOIN mins m ON p.p_type = m.p_type AND p.p_retailprice = m.min_price
ORDER BY p.p_type, p.p_partkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: conditioned semi-join (EXISTS with a non-equi predicate)
# ---------------------------------------------------------------------------

_LATE_DAYS = 30


def q_late_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one lineitem shipped more than 30 days after
    the order date, counted by priority (TPC-H Q4's EXISTS shape).

    The existence test is a LEFT SEMI join on the equi-key (orderkey) with
    the lateness comparison as the join's residual condition — Spark plans
    it as one hash semi-join that short-circuits per probe row and emits
    each order at most once, so no post-join distinct is ever needed.
    The alternative people write — inner join + dropDuplicates — shuffles
    the full multiplicity of matches just to throw it away; the semi join
    never materializes them. At 100 TB the semi's build side is pre-
    projected to (orderkey, shipdate): two columns of lineitem.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_shipdate")
    late = (orders.join(
        lineitem,
        (orders.o_orderkey == lineitem.l_orderkey)
        & (lineitem.l_shipdate
           > F.timestamp_add("DAY", F.lit(_LATE_DAYS), orders.o_orderdate)),
        "left_semi"))
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


ORACLE_LATE_ORDERS = f"""
SELECT o_orderpriority, COUNT(*) AS n_late_orders
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL {_LATE_DAYS} DAY
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Exact decimal money aggregation (DecimalType end to end)
# ---------------------------------------------------------------------------

def q_decimal_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue summary with money as DECIMAL(18,4) end to end — exact,
    accumulation-order-independent arithmetic, unlike the double-typed
    twin queries whose aggregates need round() to be engine-stable.

    At 100 TB double summation drifts with partition order (every retry or
    AQE re-plan can change the last bits); decimal aggregation is the
    reproducibility contract for anything financial. Spark widens the sum
    intermediate automatically (DECIMAL(28,4) accumulator) so no overflow
    below 10^24 total.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # accumulate exactly in decimal; present as double (the driver
            # hash canonicalizes doubles, while Decimal reprs differ in
            # trailing zeros across engines)
            F.sum(price).cast("decimal(18,4)").cast("double").alias("gross"),
            F.sum((price * (one - disc)).cast("decimal(18,4)"))
            .cast("decimal(18,4)").cast("double").alias("net"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_DECIMAL_REVENUE = """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                 AS DECIMAL(18,4)) AS DOUBLE) AS gross,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (CAST(1 AS DECIMAL(18,4))
                             - CAST(l_discount AS DECIMAL(18,4)))
                          AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE)
           AS net
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: outer-join double aggregation (order-count distribution)
# ---------------------------------------------------------------------------

def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many customers placed exactly N orders, including N=0 (TPC-H
    Q13). The LEFT OUTER join is load-bearing: an inner join silently
    drops never-ordered customers, and the zero bucket is usually the
    business question. Double aggregation over collapsing data — per-
    customer count (|customers| rows), then count-of-counts (|distinct
    N| rows); the second exchange is microscopic at any scale."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


ORACLE_CUSTOMER_ORDER_DISTRIBUTION = """
WITH per_cust AS (
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
)
SELECT n_orders, COUNT(*) AS n_customers
FROM per_cust
GROUP BY n_orders
ORDER BY n_customers DESC, n_orders DESC
"""


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: scalar threshold + anti join
# ---------------------------------------------------------------------------

def q_wealthy_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-average account balance and no event activity
    (TPC-H Q22's shape): a scalar aggregate threshold (broadcast 1-row
    anchor — the average over positive balances), a filter against it,
    and a LEFT ANTI join against the activity fact, rolled up per market
    segment. The anti join's build side is the fact's *key column only* —
    at 100 TB the anti probe ships one bigint per row, nothing wider."""
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events").select("user_id")
    avg_bal = (customer.filter(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("avg_bal")))
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(events, customer.c_custkey == events.user_id, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.round(F.sum("c_acctbal"), 4).alias("total_balance"))
        .orderBy("c_mktsegment")
    )


ORACLE_WEALTHY_INACTIVE = """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       round(SUM(c_acctbal), 4) AS total_balance
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between two nations by year.

    The reference's single join (J1, twitter_producer.py:69-71) generalized to
    a two-dimension-chain join: lineitem joins orders on orderkey (the only
    fact-fact exchange), then both sides pick up their nation through
    broadcast dims (supplier→nation for the ship side, customer→nation for
    the order side). At 100 TB the nation-pair filter is applied to the
    broadcast dims BEFORE the fact join, so the fact exchange only carries
    rows from the two nations of interest — the classic "filter the dim,
    semi-reduce the fact" pattern.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    pair = ("NATION_1", "NATION_2")
    n1 = nation.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n2 = nation.filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    supp = supplier.join(F.broadcast(n1),
                         supplier.s_nationkey == n1.sn_key).select(
        "s_suppkey", "supp_nation")
    cust = customer.join(F.broadcast(n2),
                         customer.c_nationkey == n2.cn_key).select(
        "c_custkey", "cust_nation")

    ship = (
        lineitem
        .filter(F.col("l_shipdate").between("1996-01-01", "1997-12-31"))
        .join(F.broadcast(supp), lineitem.l_suppkey == supp.s_suppkey)
        .select("l_orderkey", "supp_nation",
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("volume"),
                F.year("l_shipdate").cast("long").alias("l_year"))
    )
    ordc = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "cust_nation")
    )
    return (
        ship.join(ordc, ship.l_orderkey == ordc.o_orderkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 4).alias("revenue"),
             F.count("*").alias("n_lines"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_NATION_TRADE_FLOWS = """
SELECT supp_nation, cust_nation, l_year,
       round(SUM(volume), 4) AS revenue, COUNT(*) AS n_lines
FROM (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  WHERE ns.n_name IN ('NATION_1', 'NATION_2')
    AND nc.n_name IN ('NATION_1', 'NATION_2')
    AND ns.n_name <> nc.n_name
    AND l_shipdate BETWEEN '1996-01-01' AND '1997-12-31'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue per year.

    Conditional-aggregate-over-join: the share is SUM(CASE WHEN supplier
    nation is the target)/SUM(all) — one aggregation, no second pass. The
    part filter (p_type = 'PROMO') is applied to the broadcast dim, which
    semi-reduces lineitem map-side before anything shuffles; the orders join
    carries only the orderkey+year columns.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    promo = part.filter(F.col("p_type") == "PROMO").select("p_partkey")
    supp_nat = (
        supplier.join(F.broadcast(nation),
                      supplier.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    return (
        lineitem
        .join(F.broadcast(promo), lineitem.l_partkey == promo.p_partkey)
        .join(F.broadcast(supp_nat), lineitem.l_suppkey == supp_nat.s_suppkey)
        .join(orders.select("o_orderkey", F.year("o_orderdate").cast("long")
                            .alias("o_year")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_year")
        .agg(F.round(F.sum(target) / F.sum(vol), 6).alias("mkt_share"),
             F.round(F.sum(vol), 4).alias("total_volume"))
        .orderBy("o_year")
    )


ORACLE_MARKET_SHARE = """
SELECT o_year,
       round(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END)
             / SUM(volume), 6) AS mkt_share,
       round(SUM(volume), 4) AS total_volume
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_type = 'PROMO'
)
GROUP BY o_year
ORDER BY o_year
"""


def q_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns.

    Return-flagged lineitems (filter reaches the scan) join orders within a
    date slice, roll up per customer, THEN the small per-customer aggregate
    joins the customer/nation dims — aggregating before dim-joining keeps
    the dim join at |customers-with-returns| rows, not |lineitems|. Top-k
    plans as TakeOrderedAndProject.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    lost = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders.filter(F.col("o_orderdate")
                            .between("1996-01-01", "1996-12-31"))
              .select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )
    return (
        lost.join(F.broadcast(customer),
                  lost.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation),
              customer.c_nationkey == nation.n_nationkey)
        .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                "c_name", F.col("n_name").alias("nation"), "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


ORACLE_RETURNED_ITEM_LOSSES = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, n_name AS nation, revenue
FROM (
  SELECT o_custkey,
         round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate BETWEEN '1996-01-01' AND '1996-12-31'
  GROUP BY o_custkey
)
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly share of revenue from PROMO-type parts.

    The part dim broadcasts whole (partkey + a boolean), the conditional
    aggregate computes the share in a single pass — numerator and
    denominator in the same HashAggregate, no self-join, no second scan.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    flag = part.select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("is_promo"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem
        .join(F.broadcast(flag), lineitem.l_partkey == flag.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(F.lit(100.0)
                    * F.sum(F.when(F.col("is_promo"), vol).otherwise(0.0))
                    / F.sum(vol), 6).alias("promo_share_pct"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("ship_month")
    )


ORACLE_PROMO_REVENUE = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       round(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE 0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_share_pct,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
ORDER BY 1
"""


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below half
    the part's average quantity (for one brand).

    The correlated scalar subquery (per-part AVG) becomes a tiny aggregate —
    at most |parts-of-brand| rows — broadcast back onto the fact: the fact
    table is scanned once per side but never shuffled on a join key, and the
    brand filter semi-reduces both scans through the broadcast part list.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    brand_parts = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    per_part_avg = (
        lineitem.join(F.broadcast(brand_parts),
                      lineitem.l_partkey == brand_parts.p_partkey)
        .groupBy("l_partkey")
        .agg(F.avg("l_quantity").alias("avg_qty"))
        .select(F.col("l_partkey").alias("ap_partkey"), "avg_qty")
    )
    return (
        lineitem.join(F.broadcast(per_part_avg),
                      lineitem.l_partkey == per_part_avg.ap_partkey)
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
             F.count("*").alias("n_lines"))
    )


ORACLE_SMALL_QUANTITY_REVENUE = """
SELECT round(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN (
  SELECT l_partkey AS ap_partkey, AVG(l_quantity) AS avg_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1'
  GROUP BY l_partkey
) a ON l.l_partkey = a.ap_partkey
WHERE l.l_quantity < 0.5 * a.avg_qty
"""


def q_brand_size_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction-of-conjunctions predicate join.

    The OR-of-ANDs spans both tables, so it cannot be pushed below the join
    wholesale — but its table-local residues CAN: Catalyst derives
    `p_brand IN (...)` on the part side and quantity bounds on the lineitem
    side from the disjunction (predicate simplification), so both scans are
    still pruned; the full disjunction evaluates as the join residual.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    j = lineitem.join(F.broadcast(part),
                      lineitem.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))), 4).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


ORACLE_BRAND_SIZE_REVENUE = """
SELECT round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filtered-scan aggregate, no join at all.

    The whole query is predicate pushdown: date range, discount band, and
    quantity cap all reach the parquet scan as PushedFilters (pinned for the
    Q1 twin by test_plans.py::test_pricing_summary_pushes_filter_to_scan),
    then one partial+final aggregate. At 100 TB this is the query that
    proves the scan layer: with shipdate-partitioned layout
    (sources/layout.py) the date range becomes partition pruning and the
    job reads 1/84th of the table's months.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem
        .filter(F.col("l_shipdate").between("1996-01-01", "1996-12-31")
                & F.col("l_discount").between(0.02, 0.04)
                & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4)
             .alias("revenue"),
             F.count("*").alias("n_lines"))
    )


ORACLE_FORECAST_REVENUE_CHANGE = """
SELECT round(SUM(l_extendedprice * l_discount), 4) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the global maximum quarterly
    revenue — the max-equality join-back (ties kept).

    The per-supplier aggregate is |suppliers| rows; its global max is one
    row. Both broadcast, so the "view + scalar subquery" of the SQL form
    costs one fact exchange (the supplier rollup) plus two broadcasts —
    the same shape as Q2's per-group min, but with a single global group.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")

    rev = (
        lineitem
        .filter(F.col("l_shipdate").between("1996-01-01", "1996-03-31"))
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 4)
             .alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(top),
                 rev.total_revenue == top.max_revenue)
        .join(F.broadcast(supplier),
              rev.l_suppkey == supplier.s_suppkey)
        .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


ORACLE_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         round(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
  FROM lineitem
  WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-03-31'
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part class, excluding
    a supplier blacklist.

    The blacklist (suppliers with negative account balance — Q16's
    "complaints" predicate) is an anti-join applied to the fact BEFORE the
    distinct count; the distinct aggregate shuffles on the group key with
    the suppkey carried for dedup — the exact two-phase shape the skewed
    variant (operators/skew.py::two_stage_distinct_count) generalizes.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")

    blacklist = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        lineitem
        .join(F.broadcast(blacklist),
              lineitem.l_suppkey == blacklist.s_suppkey, "left_anti")
        .join(F.broadcast(part.filter(F.col("p_size").isin(1, 5, 9, 13))),
              lineitem.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


ORACLE_PARTS_SUPPLIER_COUNTS = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size IN (1, 5, 9, 13)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late supplier on a
    multi-supplier order ("late" = shipped >60 days after the order date;
    the testdata has no commit/receipt dates).

    The classic formulation is EXISTS(other supplier) AND NOT EXISTS(other
    late supplier) — two correlated self-joins of lineitem. Spark-first,
    both collapse into ONE aggregation over the orderkey exchange:
    per order, count distinct suppliers and distinct late suppliers; a
    supplier qualifies on an order iff they are late, n_suppliers > 1 and
    n_late_suppliers = 1. The fact table moves once (orderkey), instead of
    three times for the EXISTS/NOT-EXISTS self-join pair — the win that
    matters at 100 TB, where each avoided lineitem self-join is a full
    table exchange. Ranked output planned as TakeOrderedAndProject.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")

    li = (
        lineitem.join(orders.select("o_orderkey", "o_orderdate"),
                      lineitem.l_orderkey == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey",
                (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
                .alias("is_late"))
    )
    per_pair = (
        li.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_late").alias("supp_late"))
    )
    # per-order counts as a WINDOW over the aggregate, not a groupBy +
    # join-back: hash(l_orderkey) from the join already clusters both the
    # (orderkey, suppkey) aggregate and the orderkey window, so this adds
    # zero exchanges AND avoids recomputing the fact-fact join for a
    # second consumer (the join-back formulation ran the li pipeline twice)
    per_order_w = Window.partitionBy("l_orderkey")
    return (
        per_pair
        .withColumn("n_supp", F.count(F.lit(1)).over(per_order_w))
        .withColumn("n_late_supp",
                    F.count(F.when(F.col("supp_late"), 1)).over(per_order_w))
        .filter(F.col("supp_late"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supplier),
              F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_name", F.col("s_suppkey").cast("long").alias("s_suppkey"),
                "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(10)
    )


ORACLE_SOLE_LATE_SUPPLIER = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), per_pair AS (
  SELECT l_orderkey, l_suppkey, MAX(is_late) AS supp_late
  FROM li GROUP BY l_orderkey, l_suppkey
), per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_supp,
         COUNT(*) FILTER (supp_late) AS n_late_supp
  FROM per_pair GROUP BY l_orderkey
)
SELECT s_name, CAST(s_suppkey AS BIGINT) AS s_suppkey, numwait
FROM (
  SELECT l_suppkey, COUNT(*) AS numwait
  FROM per_pair JOIN per_order USING (l_orderkey)
  WHERE supp_late AND n_supp > 1 AND n_late_supp = 1
  GROUP BY l_suppkey
)
JOIN supplier ON l_suppkey = s_suppkey
ORDER BY numwait DESC, s_suppkey
LIMIT 10
"""


_TRIANGLE_MIN_SHARED = 155


def q_supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the supplier co-purchase graph — the clustering
    statistic of graph analytics, relational-style.

    Graph build: project the supplier-part bipartite fact to supplier-pair
    edges (pairs sharing ≥155 distinct parts; a<b orientation). Count:
    the oriented wedge join — edges e1(u,v) ⋈ e2(v,w) ⋈ closure (u,w) —
    which counts each triangle exactly once because every edge points
    low→high. The bipartite projection is the only fact-sized exchange;
    the edge table is |suppliers|²-bounded. The wedge joins carry NO
    broadcast hint — the edge table is corpus-derived, so the choice is
    left to the planner, which sees the checkpointed table's REAL size
    and broadcasts while it is small (plans/lint.py forbids forcing it).
    At real scale the standard mitigation (degree-ordered orientation,
    splitting high-degree vertices) applies to the same plan shape.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    bip = lineitem.select(F.col("l_suppkey").alias("s"),
                          F.col("l_partkey").alias("p")).distinct()
    a = bip.toDF("u", "p")
    b = bip.toDF("v", "p2")
    # localCheckpoint: the edge table feeds FIVE consumers (two wedge sides,
    # the closure probe, node count, edge count) — without the barrier each
    # re-runs the fact-sized bipartite self-join; with it the graph is
    # materialized once (|edges| rows, tiny) and everything downstream is
    # broadcast algebra over it. Checkpoint (not persist): blocks free
    # themselves when this DataFrame is GC'd, so multi-query sessions don't
    # accumulate cache entries that only an explicit unpersist would drop.
    edges = (
        a.join(b, (F.col("p") == F.col("p2")) & (F.col("u") < F.col("v")))
        .groupBy("u", "v").agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= _TRIANGLE_MIN_SHARED)
        .select("u", "v")
        .localCheckpoint()
    )
    e1 = edges.toDF("u", "v")
    e2 = edges.toDF("v", "w")
    e3 = edges.toDF("u", "w")
    tri = (
        e1.join(e2, "v")
        .join(e3, ["u", "w"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = edges.select(F.col("u").alias("n")).unionByName(
        edges.select(F.col("v").alias("n"))).distinct()
    return (
        nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri)
    )


ORACLE_SUPPLIER_TRIANGLES = f"""
WITH bip AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
), edges AS (
  SELECT a.s AS u, b.s AS v
  FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s
  GROUP BY a.s, b.s HAVING COUNT(*) >= {_TRIANGLE_MIN_SHARED}
), nodes AS (
  SELECT u AS n FROM edges UNION SELECT v FROM edges
)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT COUNT(*) FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v) AS n_triangles
"""


def q_returnflag_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per shipping class (l_returnflag standing in for
    shipmode), conditional counts of high- vs low-priority orders — the
    two-way CASE aggregation over a fact-fact join.

    Both conditional counts live in ONE HashAggregate after the orderkey
    join (the orders side pre-projected to key + a boolean, so the
    exchange moves 9 bytes a row). The date filter reaches the lineitem
    scan as a PushedFilter.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem
        .filter(F.col("l_shipdate").between("1997-01-01", "1997-12-31"))
        .join(orders.select("o_orderkey", high.alias("is_high")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(F.count(F.when(F.col("is_high"), 1)).alias("high_line_count"),
             F.count(F.when(~F.col("is_high"), 1)).alias("low_line_count"))
        .orderBy("l_returnflag")
    )


ORACLE_RETURNFLAG_PRIORITY_COUNTS = """
SELECT l_returnflag,
       COUNT(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))
           AS high_line_count,
       COUNT(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
           AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate BETWEEN '1997-01-01' AND '1997-12-31'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation where the supplier and the
    ordering customer share that nation — the equality constraint BETWEEN
    two dimension paths (customer→nation vs supplier→nation) that makes Q5
    more than a star join.

    Spark-first: both paths resolve through broadcast dims to nationkey
    columns on the joined fact row; the cross-path constraint is then a
    residual filter — no extra join. One orderkey exchange (lineitem ⋈
    orders), everything else broadcasts.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    cust = customer.select("c_custkey",
                           F.col("c_nationkey").alias("cust_nation"))
    supp = supplier.select("s_suppkey",
                           F.col("s_nationkey").alias("supp_nation"))
    return (
        lineitem
        .join(orders.filter(F.col("o_orderdate")
                            .between("1996-01-01", "1996-12-31"))
              .select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("cust_nation") == F.col("supp_nation"))
        .join(F.broadcast(nation),
              F.col("supp_nation") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 4).alias("revenue"),
             F.count("*").alias("n_lines"))
        .orderBy(F.desc("revenue"), "n_name")
    )


ORACLE_LOCAL_SUPPLIER_REVENUE = """
SELECT n_name,
       round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE c_nationkey = s_nationkey
  AND o_orderdate BETWEEN '1996-01-01' AND '1996-12-31'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


_Q11_SHARE = 0.0001


def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: (supplier, part) inventory-value groups whose value
    exceeds a fixed fraction of the GLOBAL total — the share-of-total
    HAVING that needs a scalar subquery.

    The group table here is |supplier×part| — fact-dimension-sized, so
    neither of the cheap share-of-total idioms holds: an unpartitioned
    window would move EVERY group to one partition (the 100 TB cliff), and
    a separate-aggregate crossJoin would re-scan the fact (the global-agg
    branch plans a different partial aggregate — no exchange reuse). The
    scalable shape is a materialization barrier: localCheckpoint the
    grouped result once (distributed blocks, freed on GC), then both the
    1-row total and the filter read the |groups|-sized artifact — one fact
    scan total. Output ordered by group keys (no float ranking).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    value = F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
    grouped = (
        lineitem.groupBy("l_suppkey", "l_partkey")
        .agg(value.alias("stock_value"))
        .localCheckpoint()
    )
    total = grouped.agg(F.sum("stock_value").alias("total"))
    return (
        grouped
        .crossJoin(F.broadcast(total))
        .filter(F.col("stock_value") > F.lit(_Q11_SHARE) * F.col("total"))
        .select(F.col("l_suppkey").cast("long").alias("l_suppkey"),
                F.col("l_partkey").cast("long").alias("l_partkey"),
                F.round("stock_value", 4).alias("stock_value"))
        .orderBy("l_suppkey", "l_partkey")
    )


ORACLE_IMPORTANT_STOCK = f"""
WITH grouped AS (
  SELECT l_suppkey, l_partkey,
         SUM(l_extendedprice * l_quantity) AS stock_value
  FROM lineitem GROUP BY l_suppkey, l_partkey
)
SELECT l_suppkey, l_partkey, round(stock_value, 4) AS stock_value
FROM grouped
WHERE stock_value > {_Q11_SHARE}
      * (SELECT SUM(stock_value) FROM grouped)
ORDER BY l_suppkey, l_partkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: nested-IN excess-volume supplier shortlist
# ---------------------------------------------------------------------------

_Q20_NAME_PREFIX = "red"
_Q20_QTY_THRESHOLD = 50.0
_Q20_NATION_CUTOFF = 8


def q_excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers (in a nation subset) that moved more than
    a threshold quantity of at least one name-matched part — the doubly
    nested IN-subquery (supplier IN (... part IN (...) GROUP BY ... HAVING)).

    Shape, not translation: each IN collapses to a LEFT SEMI join, so
    nothing is ever materialized at match multiplicity. The part shortlist
    (prefix-matched names) is broadcast into the lineitem scan as a semi join
    — at 100 TB the fact is reduced map-side before its only exchange, the
    (suppkey, partkey) aggregation. The HAVING survivors then collapse to
    distinct suppkeys (a few thousand rows at any scale) and semi-join into
    supplier, with the nation filter a broadcast dim as usual. The fact
    moves once; supplier is never shuffled at all (broadcast probe side).

    Reference parity: the reference's query surface is literal SQL over
    SQLite (sentiment_analysis.py:450-715) and has no nested-IN query; this
    covers the shape for the BASELINE star-schema surface.
    """
    part = load_table(spark, sf_dir, "part") \
        .filter(F.col("p_name").startswith(_Q20_NAME_PREFIX)) \
        .select("p_partkey")
    lineitem = load_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_suppkey", "l_quantity")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation") \
        .filter(F.col("n_nationkey") < _Q20_NATION_CUTOFF) \
        .select("n_nationkey")

    movers = (
        lineitem
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey,
              "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > _Q20_QTY_THRESHOLD)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier
        .join(F.broadcast(nation),
              supplier.s_nationkey == nation.n_nationkey, "left_semi")
        .join(movers, supplier.s_suppkey == movers.l_suppkey, "left_semi")
        .select(F.col("s_suppkey").cast("long").alias("s_suppkey"), "s_name")
        .orderBy("s_suppkey")
    )


ORACLE_EXCESS_VOLUME_SUPPLIERS = f"""
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name
FROM supplier
WHERE s_nationkey IN (
        SELECT n_nationkey FROM nation WHERE n_nationkey < {_Q20_NATION_CUTOFF})
  AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE '{_Q20_NAME_PREFIX}%')
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > {_Q20_QTY_THRESHOLD})
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# Hierarchical percent-of-parent rollup (region → nation shares)
# ---------------------------------------------------------------------------

def q_regional_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level percent-of-parent report: revenue per nation, each
    nation's share of its region, each region's share of the global total
    — the drill-down readout every BI layer wants from a geography
    hierarchy, computed with two windows OVER THE AGGREGATE (25 rows), so
    neither share needs a second fact scan or a join-back.

    The fact is aggregated once on custkey→nation (broadcast dims fold
    the hierarchy in before the exchange); everything after the groupBy
    is |nations|-sized window algebra."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_nation = (
        lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name",
                                        "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(revenue.alias("revenue"))
    )
    region_w = Window.partitionBy("r_name")
    # global share via SUM() OVER () on the 25-row nation aggregate — the
    # single-partition exchange moves 25 rows and keeps ONE pass over the
    # star join (a separate-total crossJoin would replay the whole join:
    # the global-agg branch's exchange is not reusable)
    global_w = Window.partitionBy()
    return (
        per_nation
        .withColumn("pct_of_region",
                    F.round(F.col("revenue")
                            / F.sum("revenue").over(region_w) * 100, 4))
        .withColumn("pct_of_global",
                    F.round(F.col("revenue")
                            / F.sum("revenue").over(global_w) * 100, 4))
        .select("r_name", "n_name", F.round("revenue", 4).alias("revenue"),
                "pct_of_region", "pct_of_global")
        .orderBy("r_name", "n_name")
    )


ORACLE_REGIONAL_REVENUE_SHARE = """
WITH per_nation AS (
    SELECT r.r_name, n.n_name,
           SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
)
SELECT r_name, n_name, round(revenue, 4) AS revenue,
       round(revenue / SUM(revenue) OVER (PARTITION BY r_name) * 100, 4)
           AS pct_of_region,
       round(revenue / SUM(revenue) OVER () * 100, 4) AS pct_of_global
FROM per_nation
ORDER BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# Market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

_BASKET_MIN_PAIR = 3
_BASKET_TOPK = 20


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: the top-20 part pairs by lift among pairs
    co-purchased in ≥3 orders, with support counts and directional
    confidence — the association-rule readout (Agrawal/Srikant's Apriori
    output at itemset size 2) behind "customers who bought X also
    bought Y".

    The pair join is the SAME-ORDER self-join — bounded by (items per
    order)² ≈ ≤45 pairs per order here, so the candidate space scales
    with orders, never |parts|². Item supports broadcast back onto the
    pair counts; lift/confidence derive from integer counts (engine-exact
    before the output rounding) and rank on the rounded lift with pair
    tiebreaks. One fact-sized exchange (orderkey self-join); everything
    after is |pairs|-sized.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    baskets = (lineitem.select("l_orderkey",
                               F.col("l_partkey").alias("item"))
               .distinct())
    n_orders = baskets.select("l_orderkey").distinct().count()
    item_n = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("item_a"),
                 F.col("b.item").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _BASKET_MIN_PAIR)
    )
    na = item_n.withColumnsRenamed({"item": "item_a", "n_item": "n_a"})
    nb = item_n.withColumnsRenamed({"item": "item_b", "n_item": "n_b"})
    scored = (
        pairs.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .withColumn("lift", F.round(
            F.col("n_pair") * F.lit(float(n_orders))
            / (F.col("n_a") * F.col("n_b")), 4))
        .withColumn("conf_a_to_b",
                    F.round(F.col("n_pair") / F.col("n_a"), 4))
        .withColumn("conf_b_to_a",
                    F.round(F.col("n_pair") / F.col("n_b"), 4))
    )
    return (
        scored.orderBy(F.desc("lift"), "item_a", "item_b")
        .select(F.col("item_a").cast("long").alias("item_a"),
                F.col("item_b").cast("long").alias("item_b"),
                "n_pair", "lift", "conf_a_to_b", "conf_b_to_a")
        .limit(_BASKET_TOPK)
    )


ORACLE_BASKET_RULES = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey AS item FROM lineitem
), n_orders AS (
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n FROM baskets
), item_n AS (
    SELECT item, COUNT(*) AS n_item FROM baskets GROUP BY item
), pairs AS (
    SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_pair
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.item < b.item
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_BASKET_MIN_PAIR}
)
SELECT CAST(item_a AS BIGINT) AS item_a,
       CAST(item_b AS BIGINT) AS item_b,
       n_pair,
       round(n_pair * no.n / (na.n_item * nb.n_item), 4) AS lift,
       round(n_pair / na.n_item, 4) AS conf_a_to_b,
       round(n_pair / nb.n_item, 4) AS conf_b_to_a
FROM pairs
JOIN item_n na ON pairs.item_a = na.item
JOIN item_n nb ON pairs.item_b = nb.item
CROSS JOIN n_orders no
ORDER BY lift DESC, item_a, item_b
LIMIT {_BASKET_TOPK}
"""


# ---------------------------------------------------------------------------
# Grouped regression: discount elasticity of quantity per brand
# ---------------------------------------------------------------------------

def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand discount elasticity: OLS slope/intercept/r² of line-item
    quantity on discount, one regression per brand in a single aggregate
    pass — the grouped-regression readout behind price-sensitivity
    dashboards ("which brands actually move when discounted?").

    regr_slope/regr_intercept/regr_r2 are algebraic aggregates (sums of
    products), so each partial-combines map-side and the fact shuffles
    once on the brand key after the broadcast part join. Moments are
    engine-exact up to accumulation order; outputs rounded.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        lineitem.select("l_partkey", "l_quantity", "l_discount")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.round(F.regr_slope("l_quantity", "l_discount"), 4)
             .alias("slope"),
             F.round(F.regr_intercept("l_quantity", "l_discount"), 4)
             .alias("intercept"),
             F.round(F.regr_r2("l_quantity", "l_discount"), 4).alias("r2"))
        .orderBy("p_brand")
    )


ORACLE_DISCOUNT_ELASTICITY = """
SELECT p_brand,
       COUNT(*) AS n_lines,
       round(regr_slope(l_quantity, l_discount), 4) AS slope,
       round(regr_intercept(l_quantity, l_discount), 4) AS intercept,
       round(regr_r2(l_quantity, l_discount), 4) AS r2
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# Supplier concentration (Herfindahl–Hirschman index per brand)
# ---------------------------------------------------------------------------

def q_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain concentration: the Herfindahl–Hirschman index of
    supplier revenue shares within each brand (HHI = Σ share², 10000 ×
    share² in antitrust convention) plus the top-supplier share — the
    single-source-risk readout ("which brands depend on one supplier?").

    Two aggregates on nested keys: (brand, supplier) revenue — the only
    fact-sized exchange — then the |brands|×|suppliers| rollup folds to
    per-brand HHI with shares derived from a window over the small table.
    Shares are rounded (6 dp) before squaring so the index is engine-exact.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_supp = (
        lineitem.select("l_partkey", "l_suppkey",
                        "l_extendedprice", "l_discount")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "l_suppkey")
        .agg(F.round(revenue, 4).alias("rev"))
    )
    brand_w = Window.partitionBy("p_brand")
    shares = per_supp.withColumn(
        "share", F.round(F.col("rev") / F.sum("rev").over(brand_w), 6))
    return (
        shares.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_suppliers"),
             F.round(F.sum(F.col("share") * F.col("share")) * 10000, 4)
             .alias("hhi"),
             F.round(F.max("share"), 6).alias("top_supplier_share"))
        .orderBy("p_brand")
    )


ORACLE_SUPPLIER_CONCENTRATION = """
WITH per_supp AS (
    SELECT p_brand, l_suppkey,
           round(SUM(l_extendedprice * (1 - l_discount)), 4) AS rev
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand, l_suppkey
), shares AS (
    SELECT p_brand,
           round(rev / SUM(rev) OVER (PARTITION BY p_brand), 6) AS share
    FROM per_supp
)
SELECT p_brand,
       COUNT(*) AS n_suppliers,
       round(SUM(share * share) * 10000, 4) AS hhi,
       round(MAX(share), 6) AS top_supplier_share
FROM shares
GROUP BY p_brand
ORDER BY p_brand
"""
