"""Generic relational operator surface over the TPC-H-ish testdata.

Covers SURVEY.md §2 build-plan step 7: scans/projections/filters (P1-P8),
joins of every flavor (§2.3 — absent from the reference, mandated by the
extension surface), aggregations (A1-A9), windows (§2.5), sorts/top-k
(T1-T3), set ops (§2.7), rollup. All built-ins — Catalyst handles
pushdown/pruning/join-strategy; dimension joins broadcast under the
64 MB threshold set in session.py.

Float discipline: every float aggregate output is rounded the same way
in the Spark builder and the oracle SQL, so the driver's value hash is
stable despite engine-dependent summation order (error ~1e-12 relative;
rounding to 2-6 decimals absorbs it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_etl_pipeline_spark.queries.base import register
from crypto_etl_pipeline_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Aggregation over a filtered scan (TPC-H Q1 flavor): exercises predicate
# pushdown into the parquet scan, partial (map-side) aggregation, and
# whole-stage codegen over the arithmetic. Reference ops: A2-A4 shapes.
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 6)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="Filtered groupBy-agg pricing summary (TPC-H Q1 shape)",
    tags=("agg", "core"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# 3-way join + group + top-k (TPC-H Q3 flavor). The customer filter makes
# the build side small; top-k plans as TakeOrderedAndProject (T1).
# --------------------------------------------------------------------------
@register(
    "q3_top_revenue_orders",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1996-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    description="3-way join, grouped revenue, deterministic top-10",
    tags=("join", "topk", "core"),
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # cust is segment-filtered but still SF-scaled (1/5 of customer)
        # — no hint; AQE broadcasts it at small SF, shuffles at 100x.
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# 6-way star join (TPC-H Q5 flavor): fact table shuffles once; the
# bounded dims (nation/region) broadcast by hint, the SF-scaled sides
# (customer/supplier) are unhinted — AQE broadcasts them at small SF.
# --------------------------------------------------------------------------
@register(
    "q5_nation_revenue",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND s_nationkey = c_nationkey
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    description="6-way star join with broadcast dimensions (TPC-H Q5 shape)",
    tags=("join", "core"),
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("s_nationkey") == F.col("c_nationkey")))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# --------------------------------------------------------------------------
# Join-flavor coverage: semi / anti / outer.
# --------------------------------------------------------------------------
@register(
    "join_semi_urgent_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    description="Left-semi join: customers having >=1 urgent order",
    tags=("join",),
)
def join_semi_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti_no_urgent_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    description="Left-anti join: customers with no urgent order",
    tags=("join",),
)
def join_anti_no_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_outer_open_order_counts",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey)                 AS n_open_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS open_total
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderstatus = 'P'
    GROUP BY c_custkey
    """,
    description="Left-outer join preserving customers with zero 'P' orders",
    tags=("join",),
)
def join_outer_open_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cond = (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus == "P")
    return (
        cust.join(orders, cond, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_open_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("open_total"),
        )
    )


# --------------------------------------------------------------------------
# Window functions (§2.5 — extension surface; partitioned windows only,
# never an unpartitioned global window).
# --------------------------------------------------------------------------
@register(
    "window_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    description="Partitioned row_number top-3 per key",
    tags=("window",),
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rn")
    )


@register(
    "window_event_value_delta",
    oracle="""
    SELECT event_id, user_id,
           round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta
    FROM events
    """,
    description="lag() delta per user over event time",
    tags=("window", "events"),
)
def window_event_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta"),
    )


@register(
    "window_running_user_spend",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
    FROM events
    WHERE event_type = 'purchase'
    """,
    description="Running sum per user with explicit ROWS frame",
    tags=("window", "events"),
)
def window_running_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select("event_id", "user_id", F.round(F.sum("value").over(w), 4).alias("running_value"))


# --------------------------------------------------------------------------
# Set operations (§2.7).
# --------------------------------------------------------------------------
@register(
    "set_union_active_buyers",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    description="UNION (distinct) of two key sets",
    tags=("setop",),
)
def set_union_active_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c_custkey"))
    return a.union(b).distinct()


@register(
    "set_intersect_building_open",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    description="INTERSECT of two key sets",
    tags=("setop",),
)
def set_intersect_building_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c_custkey"))
    return a.intersect(b)


@register(
    "set_except_building_never_open",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    description="EXCEPT of two key sets",
    tags=("setop",),
)
def set_except_building_never_open(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c_custkey"))
    # subtract == SQL EXCEPT (set): distinct(a) minus all rows present in
    # b. (exceptAll().distinct() would differ when a holds more copies of
    # a row than b: bag-subtraction leaves survivors that then pass
    # distinct.)
    return a.subtract(b)


# --------------------------------------------------------------------------
# Statistics layer (A1-A5): exact interpolated percentiles in ONE agg pass
# (partial+final tree aggregation — no unpartitioned window, SURVEY §2.5).
# Spark `percentile` and DuckDB `quantile_cont` share linear interpolation.
# One array-percentage `percentile` per column: each exact percentile
# builds and sorts its own value->count map, so q1/median/q3 as three
# calls would do that work three times for the same answers.
# --------------------------------------------------------------------------
@register(
    "agg_stats_extendedprice",
    oracle="""
    SELECT count(*)                                    AS n,
           round(avg(l_extendedprice), 4)              AS mean_price,
           round(stddev(l_extendedprice), 4)           AS std_price,
           round(min(l_extendedprice), 2)              AS min_price,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS median,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS q3,
           round(max(l_extendedprice), 2)              AS max_price
    FROM lineitem
    """,
    description="describe()-style stats: exact interpolated quantiles, one pass",
    tags=("agg", "stats"),
)
def agg_stats_extendedprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    c = F.col("l_extendedprice")
    q = F.percentile(c, F.lit([0.25, 0.50, 0.75]))
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(c), 4).alias("mean_price"),
        F.round(F.stddev(c), 4).alias("std_price"),
        F.round(F.min(c), 2).alias("min_price"),
        F.round(q.getItem(0), 4).alias("q1"),
        F.round(q.getItem(1), 4).alias("median"),
        F.round(q.getItem(2), 4).alias("q3"),
        F.round(F.max(c), 2).alias("max_price"),
    )


@register(
    "agg_grouped_describe_priority",
    oracle="""
    SELECT o_orderpriority,
           count(*)                                  AS n,
           round(avg(o_totalprice), 4)               AS mean_total,
           round(stddev(o_totalprice), 4)            AS std_total,
           round(min(o_totalprice), 2)               AS min_total,
           round(quantile_cont(o_totalprice, 0.25), 4) AS q1,
           round(quantile_cont(o_totalprice, 0.50), 4) AS median,
           round(quantile_cont(o_totalprice, 0.75), 4) AS q3,
           round(max(o_totalprice), 2)               AS max_total
    FROM orders
    GROUP BY o_orderpriority
    """,
    description="Grouped describe() (reference's only group-by, A5/C:132)",
    tags=("agg", "stats"),
)
def agg_grouped_describe_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    c = F.col("o_totalprice")
    q = F.percentile(c, F.lit([0.25, 0.50, 0.75]))
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(c), 4).alias("mean_total"),
        F.round(F.stddev(c), 4).alias("std_total"),
        F.round(F.min(c), 2).alias("min_total"),
        F.round(q.getItem(0), 4).alias("q1"),
        F.round(q.getItem(1), 4).alias("median"),
        F.round(q.getItem(2), 4).alias("q3"),
        F.round(F.max(c), 2).alias("max_total"),
    )


@register(
    "agg_value_counts_event_type",
    oracle="""
    SELECT event_type, count(*) AS count
    FROM events
    GROUP BY event_type
    ORDER BY count DESC, event_type
    """,
    description="value_counts: group-count ordered desc (A6/C:115)",
    tags=("agg", "events"),
)
def agg_value_counts_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("event_type"))
    )


@register(
    "agg_null_counts_events",
    oracle="""
    SELECT count(*) - count(value) AS value_nulls,
           count(*) - count(props) AS props_nulls,
           count(*)                AS n
    FROM events
    """,
    description="Per-column null counts (A3/C:72)",
    tags=("agg",),
)
def agg_null_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.sum(F.col("value").isNull().cast("long")).alias("value_nulls"),
        F.sum(F.col("props").isNull().cast("long")).alias("props_nulls"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_dup_row_count_documents",
    oracle="""
    SELECT count(*) - count(DISTINCT (lang, source)) AS n_duplicate_rows
    FROM documents
    """,
    description="Duplicate-row count over a projection (A7/C:259)",
    tags=("agg", "dedup"),
)
def agg_dup_row_count_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        (F.count(F.lit(1)) - F.countDistinct("lang", "source")).alias("n_duplicate_rows")
    )


@register(
    "agg_rollup_revenue",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    description="ROLLUP hierarchy totals (grouping sets)",
    tags=("agg",),
)
def agg_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n",
        )
    )


# --------------------------------------------------------------------------
# Top-k (T1): plans as TakeOrderedAndProject — no full sort at scale.
# --------------------------------------------------------------------------
@register(
    "topk_orders_by_totalprice",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    description="Global top-100 with deterministic tiebreak (T1)",
    tags=("topk",),
)
def topk_orders_by_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


# --------------------------------------------------------------------------
# Batch tumbling-window rollup over the events table (§2.10 batch shape;
# the true incremental variant lives in streaming/incremental.py).
# --------------------------------------------------------------------------
@register(
    "events_hourly_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           count(*)              AS n_events,
           round(sum(value), 4)  AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    description="Tumbling 1-hour rollup by event type (batch form of the stream agg)",
    tags=("events", "agg"),
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_sliding_rollup",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*)             AS n_events,
           round(sum(value), 4) AS sum_value
    FROM (
      SELECT unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
             event_type, value
      FROM events
    )
    GROUP BY 1, 2
    """,
    description="Sliding 2h/1h windowed rollup (overlapping windows, batch form of the stream agg)",
    tags=("events", "agg", "window"),
)
def events_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window aggregation: F.window(ts, 2h, 1h) expands each
    event into its two containing windows (epoch-aligned, same as the
    oracle's two shifted hour-truncs) before a plain hash agg — the
    same partial+final shape as the tumbling rollup, 2x the rows in."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q13 shape: left outer join + per-key count + distribution of
# counts (two-level aggregation).
# --------------------------------------------------------------------------
@register(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    description="Customer-by-order-count histogram (TPC-H Q13 shape)",
    tags=("join", "agg"),
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cond = (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "1-URGENT")
    per_cust = (
        cust.join(orders, cond, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# TPC-H Q17 shape: correlated aggregate subquery (per-part average),
# decorrelated into an aggregate + join — the rewrite Catalyst applies
# to the SQL form, expressed directly.
# --------------------------------------------------------------------------
@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#4'
      AND l_quantity < (
        SELECT 0.5 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey
      )
    """,
    description="Correlated aggregate subquery, decorrelated (TPC-H Q17 shape)",
    tags=("join", "agg"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#4")
    per_part_avg = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("_thresh")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(per_part_avg, li.l_partkey == F.col("_pk"))
        .where(F.col("l_quantity") < F.col("_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# TPC-H Q4 shape: correlated EXISTS with a non-equi predicate -> left-semi
# join on (key, inequality), then a small group-count. (The testdata
# lineitem has no commitdate/receiptdate, so "late" = shipped after the
# order date.)
# --------------------------------------------------------------------------
@register(
    "q4_late_ship_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    description="TPC-H Q4 shape: EXISTS (non-equi correlated) as a left-semi join + group count",
    tags=("join", "agg"),
)
def q4_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXISTS decorrelates to a left-semi join whose condition
    carries both the key equality and the correlated inequality; the
    quarter filter prunes the probe side before the join, and only
    (orderkey, orderdate, priority) survive column pruning."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    quarter = orders.where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    semi = quarter.join(
        li,
        (quarter.o_orderkey == li.l_orderkey) & (li.l_shipdate > quarter.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# --------------------------------------------------------------------------
# TPC-H Q22 shape: scalar subquery threshold + NOT EXISTS + group agg.
# (No c_phone in the testdata; the country-code bucket becomes
# c_mktsegment.)
# --------------------------------------------------------------------------
@register(
    "q22_idle_rich_customers",
    oracle="""
    SELECT c_mktsegment,
           count(*)               AS numcust,
           round(sum(c_acctbal), 4) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
    description="TPC-H Q22 shape: scalar-subquery threshold + anti join + segment rollup",
    tags=("join", "agg", "subquery"),
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no urgent order, per
    segment (every testdata customer has >=1 order, so plain
    no-orders would be vacuous). The scalar average is a 1-row agg
    broadcast-cross-joined (never an unpartitioned window); the NOT
    EXISTS is a left-anti join on custkey with the priority filter
    pushed below it. At scale the anti join shuffles on custkey and
    the broadcast threshold costs nothing."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("_avg"))
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("_avg"))
    idle = rich.join(urgent, rich.c_custkey == urgent.o_custkey, "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
    )


@register(
    "set_multiset_buyer_sessions",
    oracle="""
    WITH a AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
         b AS (SELECT user_id FROM events WHERE event_type = 'click')
    SELECT 'intersect_all' AS op, user_id, count(*) AS n
    FROM (SELECT user_id FROM a INTERSECT ALL SELECT user_id FROM b)
    GROUP BY user_id
    UNION ALL
    SELECT 'except_all', user_id, count(*)
    FROM (SELECT user_id FROM a EXCEPT ALL SELECT user_id FROM b)
    GROUP BY user_id
    """,
    description="Multiset set ops (INTERSECT ALL / EXCEPT ALL): bag semantics the DISTINCT variants cannot express",
    tags=("setop", "agg"),
)
def set_multiset_buyer_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag semantics: a user with 5 purchases and 3 clicks contributes
    3 rows to INTERSECT ALL and 2 to EXCEPT ALL — min/difference of
    multiplicities, which the round-2 DISTINCT set ops collapse.
    Spark plans intersectAll/exceptAll as a count-aggregated join +
    replication (never a row-by-row nested loop); the per-user count
    aggregation on top keeps the compared output compact."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "purchase").select("user_id")
    b = ev.where(F.col("event_type") == "click").select("user_id")
    ia = (
        a.intersectAll(b)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "user_id", "n")
    )
    ea = (
        a.exceptAll(b)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "user_id", "n")
    )
    return ia.unionByName(ea)


@register(
    "agg_decimal_exact_revenue",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(cast(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue_exact,
           CAST(sum(cast(l_extendedprice AS DECIMAL(18,2))
                    * cast(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc_revenue_exact,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    description="Exact-money aggregation in DECIMAL(18,2): order-independent sums, no FP rounding anywhere",
    tags=("agg", "decimal"),
)
def agg_decimal_exact_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decimal surface the reference lacks entirely (SURVEY §1.2:
    binary floats only): money cast to DECIMAL(18,2) before summing
    makes the aggregate EXACT and order-independent — no round() is
    needed on either engine because there is no representation error
    to absorb. The AGGREGATION runs entirely in decimal (that is the
    operator); only the final, already-exact result columns are cast
    to DOUBLE on BOTH engines for the compared surface, because the
    driver's value-hash canonicalizes DECIMAL fetch results
    differently per engine (decimal.Decimal vs float — the round-2
    HUGEINT family). True-decimal equality stays pinned by the local
    parity test (tests/test_oracle_parity.py compares the un-cast
    decimals). The double cast is safe for comparison: sums here fit
    well inside 2^53 at any driver SF. Same one-exchange
    partial/final hash aggregate as any double sum."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(price).cast("double").alias("revenue_exact"),
        F.sum(price * disc).cast("double").alias("disc_revenue_exact"),
        F.count(F.lit(1)).alias("n"),
    )
