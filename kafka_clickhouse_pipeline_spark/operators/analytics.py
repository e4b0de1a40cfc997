"""Analytical extension queries over the TPC-H-ish fixture tables --
joins, semi-joins, windows, HAVING, DISTINCT, set operations, CTE-style
subqueries. The reference has none of these (SURVEY.md section 2.10);
they prove the engine generalizes beyond its parity surface and they are
the scale-sensitive part of the query mix.

Scale design notes (100 TB):
- Dimension tables (region 5 rows, nation 25, supplier, part, customer)
  are broadcast explicitly -- no shuffle of the fact table for those
  joins; only fact-fact joins (orders><lineitem) shuffle, on their join
  key, where AQE handles skew.
- Money aggregates are decimal -- exact, order-insensitive, and
  deterministic across engines; averages are exact-decimal sums divided
  as IEEE doubles, so both engines produce bit-identical results.
  Decimal values are rendered as fixed-scale strings at the output
  boundary (canon.money; decimal columns are hash-unsafe in the driver,
  VERDICT r2 #1) -- all ordering/filtering happens on the decimal form
  first.
- Top-K forms compile to TakeOrderedAndProject (no full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.canon import big, money, ts_str
from ..lineage import cut_lineage

DEC = "decimal(18,2)"


def _dec(col: str):
    return F.col(col).cast(DEC)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation over lineitem.
    Single scan -> partial agg -> 4-group final agg; the canonical
    map-side-combine workload."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    agged = filtered.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).alias("sum_base_price"),
        F.sum(
            (_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))).cast(
                "decimal(28,4)"
            )
        ).alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agged.select(
        "l_returnflag",
        "l_linestatus",
        money("sum_qty").alias("sum_qty"),
        money("sum_base_price").alias("sum_base_price"),
        money("sum_disc_price", 4).alias("sum_disc_price"),
        (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price").cast("double") / F.col("count_order")).alias("avg_price"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join, revenue per nation in one region.
    Dims (region/nation/customer/supplier) broadcast; the only shuffle
    joins are orders><lineitem on orderkey."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    revenue = (_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))).cast(
        "decimal(28,4)"
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).alias("rev"))
        .orderBy(F.col("rev").desc(), F.col("n_name"))
        .select("n_name", money("rev", 4).alias("revenue"))
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filter both sides, join, group, top-10 by
    revenue. Broadcast customer-filtered keys; TakeOrderedAndProject."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    revenue = (_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))).cast(
        "decimal(28,4)"
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            ts_str("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
            money("revenue", 4).alias("revenue"),
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join (orders having at least one late
    lineitem), grouped count. left_semi avoids materializing the match
    side -- at scale this is a shuffle-on-orderkey semi-join, no row
    explosion."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    late = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-07-01").cast("timestamp")
    )
    return (
        orders.join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q10_top_returning_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.
    Fact-fact shuffle join + broadcast dims + TakeOrderedAndProject."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = (_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))).cast(
        "decimal(28,4)"
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).alias("rev"))
        .orderBy(F.col("rev").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", money("rev", 4).alias("revenue"))
    )


def q_distinct_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregation: distinct ordering customers per market
    segment. Two-phase distinct-agg (partial dedup before shuffle)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


def q_having_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING: orders whose total line quantity exceeds a
    threshold (TPC-H Q18 core)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
        .orderBy(F.col("total_qty").desc(), F.col("l_orderkey"))
        .select("l_orderkey", money("total_qty").alias("total_qty"))
    )


def q_union_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: UNION ALL of two disjoint order classes with a
    label column, then grouped counts -- union is metadata-only in
    Spark (no shuffle until the agg)."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.lit("urgent").alias("klass"), "o_totalprice"
    )
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.lit("low").alias("klass"), "o_totalprice"
    )
    return (
        urgent.unionAll(low)
        .groupBy("klass")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money(F.sum(_dec("o_totalprice"))).alias("total_price"),
        )
        .orderBy("klass")
    )


def q_window_top3_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window/analytic function: rank within partition, keep top 3 per
    brand by retail price. One shuffle on the partition key; rank is
    computed within sorted partitions, no global sort."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        part.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "p_brand",
            "p_partkey",
            money(_dec("p_retailprice")).alias("p_retailprice"),
            big("rnk").alias("rnk"),
        )
        .orderBy("p_brand", "rnk")
    )


def q_window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position analytics: percent_rank and cume_dist of
    each customer's balance within its market segment, keeping the top
    decile (percent_rank >= 0.9). Same physical shape as every other
    window op here -- one shuffle on the partition key, one sorted pass
    per partition; the rank filter prunes output, not compute."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        customer.select(
            "c_mktsegment",
            "c_custkey",
            money(_dec("c_acctbal")).alias("c_acctbal"),
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
        )
        .filter(F.col("pr") >= 0.9)
        .orderBy("c_mktsegment", "c_custkey")
    )


def q_window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window over a time-ordered stream: running purchase
    revenue per user (events table). Partition by user -> sort by ts
    within partition; scales by user cardinality."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            ts_str("ts").alias("ts"),
            money(F.sum(_dec("value")).over(w)).alias("running_revenue"),
        )
    )


def q_subquery_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery shape: customers with balance above the global
    average. The scalar agg broadcasts as a literal-like single-row
    cross join -- no full shuffle."""
    customer = load_table(spark, sf_dir, "customer")
    avg_bal = customer.agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        customer.crossJoin(broadcast(avg_bal))
        .filter(_dec("c_acctbal").cast("double") > F.col("avg_bal"))
        .select("c_custkey", "c_name", money(_dec("c_acctbal")).alias("c_acctbal"))
        .orderBy("c_custkey")
    )


def q_intersect_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT: customers who ordered in 1996 but not 1997,
    plus those who ordered in both years, labeled. Both set ops are
    hash-distinct joins under the hood (left_semi/left_anti after
    dedup) -- one shuffle each on the key."""
    orders = load_table(spark, sf_dir, "orders")
    y96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_custkey")
    y97 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_custkey")
    both = y96.intersect(y97).select(F.col("o_custkey"), F.lit("both").alias("cohort"))
    only96 = y96.subtract(y97).select(  # EXCEPT (distinct) semantics
        F.col("o_custkey"), F.lit("only_1996").alias("cohort")
    )
    return both.unionAll(only96).orderBy("cohort", "o_custkey")


def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function sweep over part names: upper, substring,
    length, LIKE patterns, concat, replace -- all codegen'd JVM
    expressions."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%a%"))
        .select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.substring("p_name", 1, 5).alias("name_prefix"),
            big(F.length("p_name")).alias("name_len"),
            F.regexp_replace(F.col("p_name"), "a", "@").alias("name_masked"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        )
        .orderBy("p_partkey")
    )


def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join customers to orders, count
    orders per customer (zero-order customers included), then the
    distribution of customers by order count."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # count skips nulls
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no orders at all (left_anti -- the
    NOT EXISTS plan; nothing from the right side is materialized)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def q_array_agg_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per brand, the sorted list of its part keys
    (sort_array makes collect_list deterministic) plus its size. The
    list is emitted as a joined string so the value is representation-
    portable across engines/drivers (list rendering differs)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.array_join(F.sort_array(F.collect_list("p_partkey")), ",").alias("partkeys"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .orderBy("p_brand")
    )


def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction sweep over orders: year/quarter/month/day
    plus month-start truncation, aggregated per (year, quarter)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("y"),
            F.quarter("o_orderdate").alias("q"),
            F.month("o_orderdate").alias("m"),
            F.dayofmonth("o_orderdate").alias("d"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            F.col("o_totalprice").cast(DEC).alias("price"),
        )
        .groupBy("y", "q")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("month_start").alias("first_month_ts"),
            F.max("d").alias("max_day"),
            F.sum("price").alias("total_price"),
        )
        .orderBy("y", "q")
        .select(
            big("y").alias("y"),
            big("q").alias("q"),
            "n",
            ts_str("first_month_ts").alias("first_month"),
            big("max_day").alias("max_day"),
            money("total_price").alias("total_price"),
        )
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity) per user via
    lag + cumulative-sum windows: assign session ids, then summarize
    each session (start, end, n_events, revenue). Two window passes
    over one shuffle on user_id -- the standard batch sessionization
    plan; the streaming twin is streaming.sessions.sessionize_stream.
    Gaps are measured in microseconds, as the stream measures them: a
    gap of exactly 30:00 stays in the session, 30:00.000001 splits it."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros takes a TIMESTAMP; the cast also admits TIMESTAMP_NTZ.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ts_us - F.lag(ts_us).over(w)
    with_flag = events.select(
        "user_id",
        "event_id",
        "ts",
        F.col("value").cast(DEC).alias("value"),
        F.when(gap.isNull() | (gap > 1_800_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    with_sid = with_flag.withColumn(
        "session_seq",
        F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_sid.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start_ts"),
            F.max("ts").alias("session_end_ts"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("revenue"),
        )
        .orderBy("user_id", "session_seq")
        .select(
            "user_id",
            big("session_seq").alias("session_seq"),
            ts_str("session_start_ts").alias("session_start"),
            ts_str("session_end_ts").alias("session_end"),
            "n_events",
            money("revenue").alias("revenue"),
        )
    )


#: Quantity banding dimension for the range join: (lo, hi, band).
QTY_BANDS = [(1, 10, "small"), (11, 25, "mid"), (26, 50, "large")]


def q_range_join_quantity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi interval) join: every lineitem matched to the
    band whose [lo, hi] contains its quantity, revenue per band.

    The band dimension is tiny and broadcast, so the non-equi predicate
    evaluates inside a BroadcastNestedLoopJoin over 3 rows per input
    row -- the right plan for interval dimensions at any fact size
    (never a cartesian shuffle). Complements the as-of join
    (advanced.py) as the second non-equi join family."""
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(QTY_BANDS, "lo int, hi int, band string")
    revenue = (_dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))).cast(
        "decimal(28,4)"
    )
    return (
        li.join(
            broadcast(bands),
            (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") <= F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(revenue).alias("rev"),
        )
        .orderBy("band")
        .select("band", "n_items", money("rev", 4).alias("revenue"))
    )


def q_null_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling / conditional scalar sweep over events (props
    occasionally yields no k): coalesce, nullif, greatest, least,
    CASE chains -- the everyday defensive-SQL toolkit."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select(
            "event_id",
            F.coalesce(k, F.lit(-1)).alias("k_or_default"),
            F.nullif(F.col("event_type"), F.lit("error")).alias("type_or_null"),
            F.greatest(F.col("value"), F.lit(50.0)).alias("value_floor50"),
            F.least(F.col("value"), F.lit(500.0)).alias("value_cap500"),
            F.when(F.col("value") < 50, "low")
            .when(F.col("value") < 500, "mid")
            .otherwise("high")
            .alias("value_band"),
        )
        .orderBy("event_id")
    )


ANALYTICS_ORACLES: dict[str, str] = {
    "q_window_percent_rank": """
        WITH r AS (
          SELECT c_mktsegment, c_custkey, c_acctbal,
                 percent_rank() OVER w AS pr_raw,
                 cume_dist() OVER w AS cd_raw
          FROM customer
          WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey))
        SELECT c_mktsegment, c_custkey,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS STRING) AS c_acctbal,
               round(pr_raw, 6) AS pr, round(cd_raw, 6) AS cd
        FROM r WHERE round(pr_raw, 6) >= 0.9
        ORDER BY c_mktsegment, c_custkey
    """,
    "q_range_join_quantity_bands": """
        WITH bands(lo, hi, band) AS (VALUES (1, 10, 'small'), (11, 25, 'mid'), (26, 50, 'large'))
        SELECT band, count(*) AS n_items,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                   (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                   AS DECIMAL(28,4))) AS STRING) AS revenue
        FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity <= hi
        GROUP BY band ORDER BY band
    """,
    "q_sessionize": """
        WITH flagged AS (
          SELECT user_id, event_id, ts,
                 CAST(value AS DECIMAL(18,2)) AS value,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events),
        sid AS (
          SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          FROM flagged)
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
               count(*) AS n_events,
               CAST(CAST(sum(value) AS DECIMAL(38,2)) AS STRING) AS revenue
        FROM sid GROUP BY user_id, session_seq
        ORDER BY user_id, session_seq
    """,
    "q_null_functions": """
        SELECT event_id,
               coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), -1) AS k_or_default,
               nullif(event_type, 'error') AS type_or_null,
               greatest(value, 50.0) AS value_floor50,
               least(value, 500.0) AS value_cap500,
               CASE WHEN value < 50 THEN 'low'
                    WHEN value < 500 THEN 'mid'
                    ELSE 'high' END AS value_band
        FROM events ORDER BY event_id
    """,
    "q13_customer_order_distribution": """
        WITH per_cust AS (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
        SELECT c_count, count(*) AS custdist
        FROM per_cust
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "q_anti_join_inactive_customers": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
    """,
    "q_array_agg_parts_per_brand": """
        SELECT p_brand,
               array_to_string(list_sort(list(p_partkey)), ',') AS partkeys,
               count(*) AS n_parts
        FROM part GROUP BY p_brand ORDER BY p_brand
    """,
    "q_date_functions": """
        WITH d AS (
          SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q,
                 month(o_orderdate) AS m, day(o_orderdate) AS d,
                 CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS price
          FROM orders)
        SELECT y, q, count(*) AS n,
               strftime(min(month_start), '%Y-%m-%d %H:%M:%S') AS first_month,
               max(d) AS max_day,
               CAST(CAST(sum(price) AS DECIMAL(38,2)) AS STRING) AS total_price
        FROM d GROUP BY y, q ORDER BY y, q
    """,
    "q_intersect_except_customers": """
        WITH y96 AS (SELECT o_custkey FROM orders
                     WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                       AND o_orderdate <  TIMESTAMP '1997-01-01'),
        y97 AS (SELECT o_custkey FROM orders
                WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                  AND o_orderdate <  TIMESTAMP '1998-01-01'),
        both_y AS (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97),
        only96 AS (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97)
        SELECT o_custkey, 'both' AS cohort FROM both_y
        UNION ALL
        SELECT o_custkey, 'only_1996' AS cohort FROM only96
        ORDER BY cohort, o_custkey
    """,
    "q_string_functions": """
        SELECT p_partkey,
               upper(p_name) AS name_upper,
               substr(p_name, 1, 5) AS name_prefix,
               length(p_name) AS name_len,
               regexp_replace(p_name, 'a', '@', 'g') AS name_masked,
               concat_ws('|', p_brand, p_type) AS brand_type
        FROM part WHERE p_name LIKE '%a%'
        ORDER BY p_partkey
    """,
    "q1_pricing_summary": """
        WITH agged AS (
          SELECT l_returnflag, l_linestatus,
                 sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
                 sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base_price,
                 sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(28,4))) AS sum_disc_price,
                 count(*) AS count_order
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '1998-09-02'
          GROUP BY l_returnflag, l_linestatus)
        SELECT l_returnflag, l_linestatus,
               CAST(CAST(sum_qty AS DECIMAL(38,2)) AS STRING) AS sum_qty,
               CAST(CAST(sum_base_price AS DECIMAL(38,2)) AS STRING) AS sum_base_price,
               CAST(sum_disc_price AS STRING) AS sum_disc_price,
               CAST(sum_qty AS DOUBLE) / count_order AS avg_qty,
               CAST(sum_base_price AS DOUBLE) / count_order AS avg_price,
               count_order
        FROM agged ORDER BY l_returnflag, l_linestatus
    """,
    "q5_revenue_by_nation": """
        SELECT n_name,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                   (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                   AS DECIMAL(28,4))) AS STRING) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name
        ORDER BY CAST(revenue AS DECIMAL(28,4)) DESC, n_name
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               CAST(revenue AS STRING) AS revenue
        FROM (
          SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
                 o_orderpriority,
                 sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(28,4))) AS revenue
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1998-01-01'
            AND l_shipdate  > TIMESTAMP '1996-01-01'
          GROUP BY l_orderkey, o_orderdate, o_orderpriority
          ORDER BY revenue DESC, l_orderkey
          LIMIT 10
        ) t
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > TIMESTAMP '1996-07-01')
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q10_top_returning_customers": """
        SELECT c_custkey, c_name, n_name,
               CAST(revenue AS STRING) AS revenue
        FROM (
          SELECT c_custkey, c_name, n_name,
                 sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(28,4))) AS revenue
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          WHERE l_returnflag = 'R'
          GROUP BY c_custkey, c_name, n_name
          ORDER BY revenue DESC, c_custkey
          LIMIT 20
        ) t
    """,
    "q_distinct_customers_per_segment": """
        SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_customers
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "q_having_big_orders": """
        SELECT l_orderkey,
               CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS STRING) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300
        ORDER BY sum(CAST(l_quantity AS DECIMAL(18,2))) DESC, l_orderkey
    """,
    "q_union_priority_classes": """
        SELECT klass, count(*) AS n_orders,
               CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS STRING) AS total_price
        FROM (
          SELECT 'urgent' AS klass, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
          UNION ALL
          SELECT 'low' AS klass, o_totalprice FROM orders WHERE o_orderpriority = '5-LOW'
        )
        GROUP BY klass ORDER BY klass
    """,
    "q_window_top3_parts_per_brand": """
        SELECT p_brand, p_partkey,
               CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS STRING) AS p_retailprice, rnk
        FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 row_number() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC, p_partkey) AS rnk
          FROM part)
        WHERE rnk <= 3
        ORDER BY p_brand, rnk
    """,
    "q_window_running_revenue": """
        SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
               CAST(CAST(sum(CAST(value AS DECIMAL(18,2)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2))
                 AS STRING) AS running_revenue
        FROM events
        WHERE event_type = 'purchase'
    """,
    "q_subquery_above_avg_balance": """
        SELECT c_custkey, c_name,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS STRING) AS c_acctbal
        FROM customer
        WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) >
              (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
               FROM customer)
        ORDER BY c_custkey
    """,
}

ANALYTICS_QUERIES = {
    "q_range_join_quantity_bands": q_range_join_quantity_bands,
    "q1_pricing_summary": q1_pricing_summary,
    "q5_revenue_by_nation": q5_revenue_by_nation,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q10_top_returning_customers": q10_top_returning_customers,
    "q_distinct_customers_per_segment": q_distinct_customers_per_segment,
    "q_having_big_orders": q_having_big_orders,
    "q_union_priority_classes": q_union_priority_classes,
    "q_window_top3_parts_per_brand": q_window_top3_parts_per_brand,
    "q_window_running_revenue": q_window_running_revenue,
    "q_window_percent_rank": q_window_percent_rank,
    "q_subquery_above_avg_balance": q_subquery_above_avg_balance,
    "q_intersect_except_customers": q_intersect_except_customers,
    "q_string_functions": q_string_functions,
    "q13_customer_order_distribution": q13_customer_order_distribution,
    "q_anti_join_inactive_customers": q_anti_join_inactive_customers,
    "q_array_agg_parts_per_brand": q_array_agg_parts_per_brand,
    "q_date_functions": q_date_functions,
    "q_null_functions": q_null_functions,
    "q_sessionize": q_sessionize,
}


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every ordered pair of consecutive events (by ts,
    event_id within a user), count (prev_type -> next_type) and the
    row-normalized transition probability. The sequence-analytics
    primitive behind next-action prediction and funnel-drop diagnosis;
    the reference's event stream (SURVEY.md section 2.7 events surface)
    has no sequence operator, so this extends it.

    Scale shape: ONE shuffle on user_id for the lag window (the same
    partitioning sessionization uses, so a multi-operator pipeline
    reuses the exchange); the transition count table is at most
    |event_types|^2 rows, so the groupBy and the row-normalizing
    window are metadata-sized. Probability is an exact-integer ratio
    evaluated as one double division then rounded -- bit-identical in
    both engines."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    row_total = Window.partitionBy("prev_type")
    return (
        counts.select(
            "prev_type",
            "next_type",
            "n_transitions",
            F.round(
                F.col("n_transitions")
                / F.sum("n_transitions").over(row_total),
                6,
            ).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


def q_scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: collapse each
    user's event stream into status-change intervals -- a row per
    (user, status) run with [valid_from, valid_to) validity, a dense
    version number, and an is_current flag. The warehouse-history
    operator a reference user would run to turn the append-only events
    table into a point-in-time dimension.

    Scale shape: both window passes partition by user_id -- one
    shuffle, reused across the change-detection lag and the interval
    lead (Spark plans a single Exchange; the second Window reuses the
    sort). No join, no driver-side state; output rows = number of
    status changes."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        events.select(
            "user_id",
            F.col("event_type").alias("status"),
            "ts",
            F.lag("event_type").over(w).alias("prev_status"),
        )
        .filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("status"))
        )
        .drop("prev_status")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts")
    return (
        changes.select(
            "user_id",
            "status",
            F.row_number().over(w2).cast("long").alias("version"),
            F.col("ts").alias("valid_from_ts"),
            F.lead("ts").over(w2).alias("valid_to_ts"),
        )
        .select(
            "user_id",
            "status",
            "version",
            ts_str("valid_from_ts").alias("valid_from"),
            ts_str("valid_to_ts").alias("valid_to"),
            F.when(F.col("valid_to_ts").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


ANALYTICS_ORACLES["q_event_transitions"] = """
    WITH pairs AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type,
             event_type AS next_type
      FROM events),
    counts AS (
      SELECT prev_type, next_type, count(*) AS n_transitions
      FROM pairs WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type)
    SELECT prev_type, next_type, n_transitions,
           round(CAST(n_transitions AS DOUBLE) /
                 sum(n_transitions) OVER (PARTITION BY prev_type), 6) AS p
    FROM counts ORDER BY prev_type, next_type
"""

ANALYTICS_ORACLES["q_scd2_user_status"] = """
    WITH changes AS (
      SELECT user_id, event_type AS status, ts
      FROM (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_status
        FROM events)
      WHERE prev_status IS NULL OR prev_status <> event_type)
    SELECT user_id, status,
           CAST(row_number() OVER w AS BIGINT) AS version,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
           CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END
                AS BIGINT) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ORDER BY user_id, version
"""

ANALYTICS_QUERIES["q_event_transitions"] = q_event_transitions
ANALYTICS_QUERIES["q_scd2_user_status"] = q_scd2_user_status


def q_interevent_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type: how long users
    wait between consecutive events of the same type -- the input to
    session-gap tuning (q_sessionize's GAP), cadence anomaly alerts,
    and churn-risk heuristics. Per type: gap count, exact mean, and
    exact p50/p95 gap seconds.

    Exactness: gaps are integer SECONDS from a lag window on the same
    (user_id) shuffle the sessionizer uses; the mean is an exact
    decimal sum divided once; the percentiles use the
    distinct-value-compaction rank algebra with INTEGER cross-multiply
    (cum * 100 >= q * n -- percentile_disc semantics, no float rank),
    so every output is bit-portable.

    Scale shape: one user_id-partitioned window over the events scan,
    one map-side-combined (type, gap) grid, then per-type cumulative
    work on the compacted grid (bounded by distinct gap values)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = (
        events.select(
            "user_id",
            "event_type",
            (
                F.col("ts").cast("timestamp").cast("long")
                - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    grid = gaps.groupBy("event_type", "gap").agg(
        F.count(F.lit(1)).alias("c")
    )
    wc = Window.partitionBy("event_type").orderBy("gap").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = grid.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("gap").cast("decimal(38,0)") * F.col("c")).alias("s"),
    )
    cum = grid.select(
        "event_type", "gap", F.sum("c").over(wc).alias("cum")
    ).join(tot, "event_type")
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("n").alias("n_gaps"),
            F.round(
                F.max("s").cast("double") / F.max("n").cast("double"), 6
            ).alias("mean_gap_s"),
            F.min(
                F.when(
                    F.col("cum") * 100 >= F.lit(50) * F.col("n"), F.col("gap")
                )
            ).alias("p50_gap_s"),
            F.min(
                F.when(
                    F.col("cum") * 100 >= F.lit(95) * F.col("n"), F.col("gap")
                )
            ).alias("p95_gap_s"),
        )
        .orderBy("event_type")
    )


ANALYTICS_ORACLES["q_interevent_times"] = """
    WITH gaps AS (
      SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
             - lag(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS gap
      FROM events),
    g AS (SELECT * FROM gaps WHERE gap IS NOT NULL),
    grid AS (SELECT event_type, gap, count(*) AS c
             FROM g GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
                   sum(CAST(gap AS DECIMAL(38,0)) * c) AS s
            FROM grid GROUP BY 1),
    cum AS (
      SELECT grid.event_type, gap,
             sum(c) OVER (PARTITION BY grid.event_type ORDER BY gap
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             n, s
      FROM grid JOIN tot ON tot.event_type = grid.event_type)
    SELECT event_type,
           max(n) AS n_gaps,
           round(CAST(max(s) AS DOUBLE) / CAST(max(n) AS DOUBLE), 6)
             AS mean_gap_s,
           min(CASE WHEN cum * 100 >= 50 * n THEN gap END) AS p50_gap_s,
           min(CASE WHEN cum * 100 >= 95 * n THEN gap END) AS p95_gap_s
    FROM cum GROUP BY event_type ORDER BY event_type
"""

ANALYTICS_QUERIES["q_interevent_times"] = q_interevent_times


# ---- interval-overlap join: sessions x peak hours ----


def q_session_peak_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join of two interval sets derived from the
    stream: per-user activity sessions (30-min gap, q_sessionize's
    windows) against corpus 'peak hours' (hours whose event count is
    strictly above the hourly mean), reporting how many peak hours
    each session touched and the overlap duration -- the
    capacity/attribution query shape (ad-break overlap, incident-
    window attribution, load-window billing).

    The join is BIN-BLOCKED, the distributed interval-join pattern:
    each session explodes into the hour buckets it covers (fanout =
    session length in hours, bounded by the gap rule) and equi-joins
    the peak-hour list on the bucket id -- never the range-predicate
    cross join, whose cost is |sessions| x |hours|. The peak list is
    broadcast: its size is bounded by the TIME SPAN (8 760 rows/year),
    not the row count.

    Exactness: all interval arithmetic on whole-second inclusive
    BIGINT grids -- session occupies seconds [s, e], hour h occupies
    [3600h, 3600h+3599], overlap = least(e, 3600h+3599) -
    greatest(s, 3600h) + 1 >= 1 for every touched hour -- so there is
    no open/closed boundary ambiguity and no doubles anywhere; the
    peak threshold is the integer cross-multiplication cnt * n_hours >
    total. Spark's sequence-explode membership (h in
    [floor(s/3600), floor(e/3600)]) is exactly DuckDB's BETWEEN."""
    events = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    ev = events.select("user_id", "event_id", "ts", sec.alias("sec"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("sec") - F.lag("sec").over(w)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "sec",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0).alias("new_s"),
    )
    sid = flagged.withColumn(
        "session_seq",
        F.sum("new_s")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("long"),
    )
    sessions = sid.groupBy("user_id", "session_seq").agg(
        F.min("sec").cast("long").alias("s"),
        F.max("sec").cast("long").alias("e"),
    )
    hourly = ev.select(
        F.floor(F.col("sec") / F.lit(3600.0)).cast("long").alias("hr")
    ).groupBy("hr").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = hourly.agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("cnt").cast("long").alias("total"),
    )
    peaks = (
        hourly.crossJoin(broadcast(tot))
        .filter(F.col("cnt") * F.col("n_hours") > F.col("total"))
        .select("hr")
    )
    touched = (
        sessions.select(
            "user_id",
            "session_seq",
            "s",
            "e",
            F.explode(
                F.sequence(
                    F.floor(F.col("s") / F.lit(3600.0)).cast("long"),
                    F.floor(F.col("e") / F.lit(3600.0)).cast("long"),
                )
            ).alias("hr"),
        )
        .join(broadcast(peaks), "hr")
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_peak_hours"),
            F.sum(
                F.least(F.col("e"), F.col("hr") * 3600 + 3599)
                - F.greatest(F.col("s"), F.col("hr") * 3600)
                + 1
            )
            .cast("long")
            .alias("peak_overlap_seconds"),
        )
    )
    return (
        sessions.join(touched, ["user_id", "session_seq"], "left")
        .select(
            "user_id",
            "session_seq",
            F.col("s").alias("start_sec"),
            F.col("e").alias("end_sec"),
            F.coalesce("n_peak_hours", F.lit(0)).cast("long").alias("n_peak_hours"),
            F.coalesce("peak_overlap_seconds", F.lit(0))
            .cast("long")
            .alias("peak_overlap_seconds"),
        )
        .orderBy("user_id", "session_seq")
    )


ANALYTICS_ORACLES["q_session_peak_overlap"] = """
    WITH ev AS (
      SELECT user_id, event_id, ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events),
    flagged AS (
      SELECT user_id, ts, event_id, sec,
             CASE WHEN lag(sec) OVER w IS NULL
                       OR sec - lag(sec) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sid AS (
      SELECT user_id, sec,
             CAST(sum(new_s) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM flagged),
    sessions AS (
      SELECT user_id, session_seq,
             CAST(min(sec) AS BIGINT) AS s,
             CAST(max(sec) AS BIGINT) AS e
      FROM sid GROUP BY 1, 2),
    hourly AS (
      SELECT CAST(floor(sec / 3600.0) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS cnt
      FROM ev GROUP BY 1),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(cnt) AS BIGINT) AS total
      FROM hourly),
    peaks AS (
      SELECT hr FROM hourly, tot WHERE cnt * n_hours > total),
    touched AS (
      SELECT se.user_id, se.session_seq,
             CAST(count(*) AS BIGINT) AS n_peak_hours,
             CAST(sum(least(se.e, p.hr * 3600 + 3599)
                      - greatest(se.s, p.hr * 3600) + 1) AS BIGINT)
               AS peak_overlap_seconds
      FROM sessions se JOIN peaks p
        ON p.hr BETWEEN CAST(floor(se.s / 3600.0) AS BIGINT)
                AND CAST(floor(se.e / 3600.0) AS BIGINT)
      GROUP BY 1, 2)
    SELECT se.user_id, se.session_seq,
           se.s AS start_sec, se.e AS end_sec,
           CAST(coalesce(t.n_peak_hours, 0) AS BIGINT) AS n_peak_hours,
           CAST(coalesce(t.peak_overlap_seconds, 0) AS BIGINT)
             AS peak_overlap_seconds
    FROM sessions se LEFT JOIN touched t
      ON t.user_id = se.user_id AND t.session_seq = se.session_seq
    ORDER BY se.user_id, se.session_seq
"""

ANALYTICS_QUERIES["q_session_peak_overlap"] = q_session_peak_overlap


# ---- windowed funnel (ClickHouse windowFunnel parity) ----

#: Funnel step conditions (ordered) and the chain window. view ->
#: click -> purchase within 24h of the anchoring view -- the canonical
#: product funnel over the events stream.
FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000  # microseconds


def q_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel: per user, the deepest step of the
    view -> click -> purchase chain completed with STRICTLY increasing
    timestamps inside a 24h window anchored at the chain's view --
    ClickHouse's ``windowFunnel(window)(ts, cond1, cond2, cond3)``
    (strict-increase mode pinned; the reference stack's canonical
    funnel primitive, which the extended dialect surface did not yet
    cover). Output: one row per step with n_users reaching AT LEAST
    that depth (monotone by construction).

    Plan -- NO self-joins (the naive chain search is a per-user
    triple join): two window passes over ONE shuffle on user_id,
    using the greedy-anchor argument. For a click at t_c, any view in
    [t_c - W, t_c) anchors step 2, and the LATEST such view
    dominates: it leaves the largest remaining window t_v + W for
    step 3. So pass 1 computes anchor(t_c) = max view-time over
    ``rangeBetween(-W, -1)`` (micros); pass 2 computes, per purchase
    at t_p, the max anchor over clicks in ``rangeBetween(-W, -1)`` --
    step 3 completes iff that max >= t_p - W (the qualifying click is
    inside the range automatically because t_c > t_v >= t_p - W).
    Both passes share the (user_id, t) sort order, so Catalyst plans
    a single exchange+sort; per-user state is O(1) per row (range
    frame maxima). Exactness: all comparisons are on exact integer
    microseconds; counts are integers.

    Oracle: the naive EXISTS-chain SQL (fine at sf0.01) -- the greedy
    anchor is provably equivalent to the exists-any-chain semantics:
    any valid (v, c, p) chain stays valid after replacing v with the
    latest view before its click."""
    events = load_table(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    e = events.filter(F.col("event_type").isin(*FUNNEL_STEPS)).select(
        "user_id", F.col("event_type").alias("et"), t.alias("t")
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-FUNNEL_WINDOW_US, -1)
    )
    anchored = e.withColumn(
        "view_anchor",
        F.max(F.when(F.col("et") == FUNNEL_STEPS[0], F.col("t"))).over(w_range),
    ).withColumn(
        "click_anchor",
        F.when(
            (F.col("et") == FUNNEL_STEPS[1]) & F.col("view_anchor").isNotNull(),
            F.col("view_anchor"),
        ),
    )
    scored = anchored.withColumn(
        "best_click_anchor",
        F.max("click_anchor").over(w_range),
    )
    per_user = scored.groupBy("user_id").agg(
        F.max(F.when(F.col("et") == FUNNEL_STEPS[0], 1).otherwise(0)).alias("l1"),
        F.max(
            F.when(F.col("click_anchor").isNotNull(), 1).otherwise(0)
        ).alias("l2"),
        F.max(
            F.when(
                (F.col("et") == FUNNEL_STEPS[2])
                & (F.col("best_click_anchor") >= F.col("t") - FUNNEL_WINDOW_US),
                1,
            ).otherwise(0)
        ).alias("l3"),
    )
    # coalesce: on input with zero funnel-step events the ungrouped agg
    # yields NULL sums while the oracle's per-step COUNT emits 0 (the
    # streaming twin, streaming/funnel.py current_funnel, already does
    # this) -- ADVICE r5
    counts = per_user.agg(
        F.coalesce(F.sum("l1"), F.lit(0)).cast("long").alias("n1"),
        F.coalesce(F.sum("l2"), F.lit(0)).cast("long").alias("n2"),
        F.coalesce(F.sum("l3"), F.lit(0)).cast("long").alias("n3"),
    )
    steps = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(FUNNEL_STEPS)], "step bigint, event_type string"
    )
    return (
        steps.crossJoin(F.broadcast(counts))
        .select(
            "step",
            "event_type",
            F.when(F.col("step") == 1, F.col("n1"))
            .when(F.col("step") == 2, F.col("n2"))
            .otherwise(F.col("n3"))
            .alias("n_users"),
        )
        .orderBy("step")
    )


ANALYTICS_QUERIES["q_funnel_window"] = q_funnel_window
ANALYTICS_ORACLES["q_funnel_window"] = f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS t FROM events
      WHERE event_type IN ('view', 'click', 'purchase')),
    v AS (SELECT user_id, t FROM e WHERE event_type = 'view'),
    c AS (SELECT user_id, t FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, t FROM e WHERE event_type = 'purchase'),
    l1 AS (SELECT DISTINCT user_id FROM v),
    l2 AS (
      SELECT DISTINCT c.user_id FROM c JOIN v
        ON v.user_id = c.user_id
       AND v.t < c.t AND v.t >= c.t - {FUNNEL_WINDOW_US}),
    l3 AS (
      SELECT DISTINCT p.user_id FROM p
      JOIN c ON c.user_id = p.user_id AND c.t < p.t
      JOIN v ON v.user_id = p.user_id AND v.t < c.t
       AND p.t <= v.t + {FUNNEL_WINDOW_US})
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
             CAST((SELECT count(*) FROM l1) AS BIGINT) AS n_users
      UNION ALL
      SELECT 2, 'click', (SELECT count(*) FROM l2)
      UNION ALL
      SELECT 3, 'purchase', (SELECT count(*) FROM l3))
    ORDER BY step
"""


def q_funnel_dropoff_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency profile of the windowed funnel: for every
    step-2-completing click, the delay (whole seconds) from its
    anchoring view; for every step-3-completing purchase, the delay
    from the FASTEST completing chain's anchor view (the greedy
    max-anchor, i.e. the minimal view->purchase latency -- the same
    deterministic anchor rule q_funnel_window uses). Reports, per step
    transition, the conversion count, the DISCRETE p50/p90 latency
    and the exact mean -- the "where does the funnel stall" companion
    to q_funnel_window's "where does it drop".

    Plan: the funnel's two range-window passes (one user_id shuffle),
    then DISTINCT-VALUE COMPACTION for the quantiles: delays are
    integer seconds bounded by the 24h window, so the per-step delay
    histogram is <= 86400 rows and the cumulative rank window runs on
    a metadata-sized grid (the q_classifier_auc pattern), never a
    corpus-sized single-partition sort. Discrete quantiles (smallest
    delay with cum >= ceil(q*n)) are integers -- exactly portable,
    no interpolation-formula drift between engines; the mean is one
    exact-integer ratio rounded at the boundary."""
    events = load_table(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    e = events.filter(F.col("event_type").isin(*FUNNEL_STEPS)).select(
        "user_id", F.col("event_type").alias("et"), t.alias("t")
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-FUNNEL_WINDOW_US, -1)
    )
    anchored = e.withColumn(
        "view_anchor",
        F.max(F.when(F.col("et") == FUNNEL_STEPS[0], F.col("t"))).over(w_range),
    ).withColumn(
        "click_anchor",
        F.when(
            (F.col("et") == FUNNEL_STEPS[1]) & F.col("view_anchor").isNotNull(),
            F.col("view_anchor"),
        ),
    )
    scored = anchored.withColumn(
        "best_click_anchor", F.max("click_anchor").over(w_range)
    )
    d2 = scored.filter(F.col("click_anchor").isNotNull()).select(
        F.lit("view->click").alias("transition"),
        ((F.col("t") - F.col("click_anchor")) / 1_000_000)
        .cast("long")
        .alias("delay_sec"),
    )
    d3 = scored.filter(
        (F.col("et") == FUNNEL_STEPS[2])
        & (F.col("best_click_anchor") >= F.col("t") - FUNNEL_WINDOW_US)
    ).select(
        F.lit("view->purchase").alias("transition"),
        ((F.col("t") - F.col("best_click_anchor")) / 1_000_000)
        .cast("long")
        .alias("delay_sec"),
    )
    hist = (
        d2.unionByName(d3)
        .groupBy("transition", "delay_sec")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_cum = (
        Window.partitionBy("transition")
        .orderBy("delay_sec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("transition")
    cdf = hist.select(
        "transition",
        "delay_sec",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
        F.sum(F.col("delay_sec") * F.col("c")).over(w_all).alias("s"),
    )
    return (
        cdf.groupBy("transition")
        .agg(
            F.max("n").cast("long").alias("n_conversions"),
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(0.5) * F.col("n")),
                    F.col("delay_sec"),
                )
            )
            .cast("long")
            .alias("p50_sec"),
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(0.9) * F.col("n")),
                    F.col("delay_sec"),
                )
            )
            .cast("long")
            .alias("p90_sec"),
            F.round(
                (F.max("s").cast("double") / F.max("n").cast("double")), 6
            ).alias("mean_sec"),
        )
        .orderBy("transition")
    )


ANALYTICS_QUERIES["q_funnel_dropoff_time"] = q_funnel_dropoff_time
ANALYTICS_ORACLES["q_funnel_dropoff_time"] = f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS t FROM events
      WHERE event_type IN ('view', 'click', 'purchase')),
    v AS (SELECT user_id, t FROM e WHERE event_type = 'view'),
    c AS (SELECT user_id, t FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, t FROM e WHERE event_type = 'purchase'),
    c2 AS (
      SELECT c.user_id, c.t, max(v.t) AS anchor
      FROM c JOIN v ON v.user_id = c.user_id
       AND v.t < c.t AND v.t >= c.t - {FUNNEL_WINDOW_US}
      GROUP BY 1, 2),
    p3 AS (
      SELECT p.user_id, p.t, max(c2.anchor) AS anchor
      FROM p JOIN c2 ON c2.user_id = p.user_id
       AND c2.t < p.t AND c2.t >= p.t - {FUNNEL_WINDOW_US}
      GROUP BY 1, 2
      HAVING max(c2.anchor) >= p.t - {FUNNEL_WINDOW_US}),
    delays AS (
      SELECT 'view->click' AS transition,
             CAST((t - anchor) // 1000000 AS BIGINT) AS delay_sec
      FROM c2
      UNION ALL
      SELECT 'view->purchase', CAST((t - anchor) // 1000000 AS BIGINT)
      FROM p3),
    hist AS (
      SELECT transition, delay_sec, count(*) AS cnt
      FROM delays GROUP BY 1, 2),
    cdf AS (
      SELECT transition, delay_sec,
             sum(cnt) OVER (PARTITION BY transition ORDER BY delay_sec) AS cum,
             sum(cnt) OVER (PARTITION BY transition) AS n,
             sum(delay_sec * cnt) OVER (PARTITION BY transition) AS s
      FROM hist)
    SELECT transition,
           CAST(max(n) AS BIGINT) AS n_conversions,
           CAST(min(CASE WHEN cum >= ceil(0.5::DOUBLE * n) THEN delay_sec END)
                AS BIGINT) AS p50_sec,
           CAST(min(CASE WHEN cum >= ceil(0.9::DOUBLE * n) THEN delay_sec END)
                AS BIGINT) AS p90_sec,
           round(CAST(max(s) AS DOUBLE) / CAST(max(n) AS DOUBLE), 6)
             AS mean_sec
    FROM cdf GROUP BY transition ORDER BY transition
"""


#: Markov power-iteration rounds and fixed-point scale (PageRank's
#: contract: fixed rounds so the oracle unrolls the exact computation;
#: integer fixed point so both engines agree to the last unit).
MARKOV_ITERS = 8
MARKOV_SCALE = 10**12

#: Collect-and-fold the chain on the driver at or below this many
#: transition cells (|core states|^2 bound); it is model metadata, not
#: data -- event-type vocabularies are enums, so even a generous bound
#: is a few MB. Above it the distributed join rounds run unchanged.
MARKOV_DRIVER_FOLD_MAX_CELLS = 250_000


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov
    chain (the long-run behavior mix): power iteration of pi' = pi P
    over q_event_transitions' transition counts -- "if user behavior
    keeps its observed dynamics, what fraction of actions does each
    event type converge to?". The chain is restricted to its
    RECURRENT CORE: states with at least one outgoing transition, and
    transitions whose target is also such a state, with row totals
    recomputed over the kept transitions -- the standard dangling-state
    fix that keeps P row-stochastic and the iteration well-defined on
    any input.

    Exactness: MARKOV_ITERS fixed rounds in MARKOV_SCALE integer fixed
    point; each round is pi'_j = sum_i (pi_i * c_ij) div r_i with
    per-term integer floor. Spark evaluates it as DECIMAL(38,0)
    integral `div`; the oracle MUST use HUGEINT `//` (DuckDB's `//`
    on DECIMAL operands silently returns an UNFLOORED DOUBLE -- found
    by the strict checker at build time). Identical exact fold on
    both engines. One double division
    renders pi at the output.

    Scale shape: the corpus-sized work is q_event_transitions' single
    user_id window shuffle; the chain itself is |event_types|^2 rows
    -- metadata-sized at ANY corpus scale, so the 8 iteration joins
    are free. No driver collects."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    # r11: materialize the (tiny, |types|^2-bounded) transition counts
    # once -- states / core / row totals / the driver fold all derive
    # from it, so the corpus-sized lag-window pass runs exactly once
    # instead of once per downstream action (guide section 5.2).
    counts = (
        pairs.groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(cut_lineage)
    )
    states = counts.select(F.col("prev_type").alias("s")).distinct()
    core = counts.join(
        states.select(F.col("s").alias("next_type")), "next_type"
    )
    rows = core.groupBy("prev_type").agg(F.sum("c").alias("r"))
    trans = core.join(rows, "prev_type").select(
        "prev_type",
        "next_type",
        F.col("c").cast("decimal(38,0)").alias("c"),
        F.col("r").cast("decimal(38,0)").alias("r"),
    )
    # core states for pi0: states that still have outgoing transitions
    # after the restriction (r > 0 by construction)
    core_states = trans.select(F.col("prev_type").alias("s")).distinct()
    n = core_states.count()  # bounded scalar: |event types|
    if n == 0:
        return spark.createDataFrame(
            [], "event_type string, pi_scaled bigint, pi double"
        )
    if n * n <= MARKOV_DRIVER_FOLD_MAX_CELLS:
        # r11 (guide sections 1.3/5.4): the restricted chain is at most
        # |event types|^2 cells -- model metadata at ANY corpus scale,
        # the same class as q_embedding_top_pc's collected dim^2
        # covariance. Folding the MARKOV_ITERS rounds on the driver
        # replaces 8 lazy join rounds (~24 AQE-scheduled stages of pure
        # latency over a ~25-row frame; measured r11: 34 stages, 2.6 s
        # executor time, 4.8 s wall) with exact integer arithmetic:
        # Python // on non-negative ints IS DECIMAL(38,0) `div`, and
        # the sums are exact, so pi is bit-identical to the join form
        # (and the unchanged oracle). Past the gate -- a state space
        # too big to collect -- the distributed join rounds below run.
        cells = [
            (r["prev_type"], r["next_type"], int(r["c"]), int(r["r"]))
            for r in trans.collect()
        ]
        # core states == distinct prev_type of trans (r > 0 by
        # construction), so the collected cells already carry them
        pi_d: dict[str, int] = {
            prev_type: MARKOV_SCALE // n for prev_type, _, _, _ in cells
        }
        for _ in range(MARKOV_ITERS):
            nxt: dict[str, int] = {}
            for prev_type, next_type, c, rr in cells:
                m = pi_d.get(prev_type)
                if m is not None:
                    nxt[next_type] = nxt.get(next_type, 0) + (m * c) // rr
            pi_d = nxt
        pi = spark.createDataFrame(
            [(s, str(m)) for s, m in pi_d.items()],
            "s string, m_str string",
        ).select("s", F.col("m_str").cast("decimal(38,0)").alias("m"))
    else:
        pi = core_states.select(
            "s", F.lit(MARKOV_SCALE // n).cast("decimal(38,0)").alias("m")
        )
        for _ in range(MARKOV_ITERS):
            pi = (
                trans.join(pi, trans["prev_type"] == pi["s"])
                .select(
                    F.col("next_type").alias("s"),
                    F.expr("CAST(m * c AS DECIMAL(38,0)) div r").alias("t"),
                )
                .groupBy("s")
                .agg(F.sum("t").cast("decimal(38,0)").alias("m"))
            )
    return (
        pi.select(
            F.col("s").alias("event_type"),
            F.col("m").cast("long").alias("pi_scaled"),
            F.round(
                F.col("m").cast("double") / F.lit(float(MARKOV_SCALE)), 6
            ).alias("pi"),
        )
        .orderBy("event_type")
    )


def _markov_iter_sql(i: int) -> str:
    return f"""
        pi{i} AS (
          SELECT t.next_type AS s,
                 CAST(sum(CAST(p.m AS HUGEINT) * CAST(t.c AS HUGEINT)
                          // CAST(t.r AS HUGEINT))
                      AS DECIMAL(38,0)) AS m
          FROM trans t JOIN pi{i - 1} p ON p.s = t.prev_type
          GROUP BY 1)"""


def _markov_oracle() -> str:
    iters = ",".join(_markov_iter_sql(i) for i in range(1, MARKOV_ITERS + 1))
    return f"""
    WITH pairs AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type,
             event_type AS next_type
      FROM events),
    counts AS (
      SELECT prev_type, next_type, count(*) AS c
      FROM pairs WHERE prev_type IS NOT NULL
      GROUP BY 1, 2),
    states AS (SELECT DISTINCT prev_type AS s FROM counts),
    core AS (
      SELECT c.* FROM counts c JOIN states st ON st.s = c.next_type),
    rws AS (SELECT prev_type, CAST(sum(c) AS DECIMAL(38,0)) AS r
            FROM core GROUP BY 1),
    trans AS (
      SELECT core.prev_type, core.next_type,
             CAST(core.c AS DECIMAL(38,0)) AS c, rws.r
      FROM core JOIN rws USING (prev_type)),
    n AS (SELECT count(DISTINCT prev_type) AS k FROM trans),
    pi0 AS (
      SELECT DISTINCT prev_type AS s,
             CAST({MARKOV_SCALE} // (SELECT k FROM n) AS DECIMAL(38,0)) AS m
      FROM trans),
    {iters}
    SELECT s AS event_type,
           CAST(m AS BIGINT) AS pi_scaled,
           round(CAST(m AS DOUBLE) / {MARKOV_SCALE}.0, 6) AS pi
    FROM pi{MARKOV_ITERS}
    ORDER BY event_type
"""


ANALYTICS_QUERIES["q_markov_stationary"] = q_markov_stationary
ANALYTICS_ORACLES["q_markov_stationary"] = _markov_oracle()


# ---- Audience overlap between event types (round 7) ----


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: for each type
    pair, the distinct-user counts, the shared-user count, the Jaccard
    overlap, and the containment of the smaller audience in the larger
    -- the segmentation diagnostic behind "do viewers also click?"
    and the input to any audience-dedup budget. Exact integers + two
    exact-ratio doubles; types ordered lexicographically per pair.

    Scale shape: ONE distinct over (event_type, user_id) (map-side
    combined), then the pair join runs on the distinct-audience frame
    (types x users), never the raw event log; per-type sizes broadcast
    back onto the pair rows."""
    ev = load_table(spark, sf_dir, "events")
    aud = ev.select("event_type", "user_id").distinct()
    sizes = aud.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = aud.select(F.col("event_type").alias("type_a"), "user_id")
    b = aud.select(F.col("event_type").alias("type_b"), "user_id")
    shared = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_shared").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("containment"),
        )
        .orderBy("type_a", "type_b")
    )


ANALYTICS_QUERIES["q_audience_overlap"] = q_audience_overlap
ANALYTICS_ORACLES["q_audience_overlap"] = """
    WITH aud AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
              FROM aud GROUP BY 1),
    shared AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM aud a JOIN aud b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b,
           sa.n AS n_a, sb.n AS n_b, n_shared,
           round(CAST(n_shared AS DOUBLE)
                 / CAST(sa.n + sb.n - n_shared AS DOUBLE), 6) AS jaccard,
           round(CAST(n_shared AS DOUBLE)
                 / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS containment
    FROM shared
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    ORDER BY type_a, type_b
"""


# ---- Salted two-stage aggregation (round 9) ----

#: Salt fan-out for the skew-immune aggregation demo. 32 matches the
#: engine's shuffle-partition default: a key that is 100% of the input
#: still lands at most 1/32nd of its rows on any one reducer in
#: stage 1.
SALTED_AGG_SALTS = 32
SALTED_AGG_TOPK = 20


def q_salted_agg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part revenue via EXPLICIT two-stage salted aggregation --
    the canonical skew-immunization pattern, registered so its
    equivalence contract is driver-attested rather than asserted in
    docs (SCALE.md's key-skew section prices the failure mode;
    q_key_skew_audit is the monitor, this is the remedy).

    Mechanics: stage 1 groups by (l_partkey, salt) where salt =
    pmod(xxhash64(l_orderkey), 32) -- a hot part's rows spread over 32
    reducers, each emitting one exact-decimal partial; stage 2 groups
    the <= 32 partials per key. Catalyst's own partial aggregation
    already map-side-combines a plain groupBy, so on HOMOGENEOUS keys
    this plan only adds one small exchange -- the explicit salt earns
    its keep when a single key's post-combine partials still swamp one
    reducer (mapper count x hot keys), the straggler regime a
    1000-executor shuffle hits long before local[32] does.

    Equivalence is EXACT, not approximate: the partial sums are
    DECIMAL(28,4) (associative, order-independent), so
    salted-then-merged totals are bit-identical to the direct groupBy
    -- that equality is what the DuckDB oracle (a plain GROUP BY, no
    salt anywhere) certifies, and what float sums could never promise.
    Output money through the canon string boundary; top-K by revenue
    keeps the result bounded."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = (
        _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    ).cast("decimal(28,4)")
    salted = li.select(
        "l_partkey",
        revenue.alias("rev"),
        F.pmod(F.xxhash64("l_orderkey"), F.lit(SALTED_AGG_SALTS)).alias(
            "salt"
        ),
    )
    partials = salted.groupBy("l_partkey", "salt").agg(
        F.sum("rev").alias("rev_part"),
        F.count(F.lit(1)).alias("n_part"),
    )
    merged = partials.groupBy("l_partkey").agg(
        F.sum("rev_part").alias("rev"),
        F.sum("n_part").alias("n_items"),
    )
    return (
        merged.select(
            big("l_partkey").alias("l_partkey"),
            money("rev", 4).alias("revenue"),
            big("n_items").alias("n_items"),
        )
        .orderBy(
            F.col("revenue").cast("decimal(28,4)").desc(), "l_partkey"
        )
        .limit(SALTED_AGG_TOPK)
    )


ANALYTICS_QUERIES["q_salted_agg_revenue"] = q_salted_agg_revenue
ANALYTICS_ORACLES["q_salted_agg_revenue"] = f"""
    SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
               AS DECIMAL(28,4))) AS STRING) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    GROUP BY l_partkey
    ORDER BY CAST(revenue AS DECIMAL(28,4)) DESC, l_partkey
    LIMIT {SALTED_AGG_TOPK}
"""


def q_salted_join_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand shipped volume via an EXPLICIT salt-replicated shuffle
    join -- the join-side companion of q_salted_agg_revenue's
    aggregation pattern. A shuffle join on a skewed key sends every
    row of the hot key to ONE reducer; salting the fact side and
    REPLICATING the dim side once per salt bounds any reducer at
    1/SALTED_AGG_SALTS of the hot key's rows, at the cost of a
    SALTED_AGG_SALTS-times-larger (but dim-sized, so tiny) build side.

    On this engine the first-choice remedies remain broadcast (part IS
    broadcast-able here -- the shuffle_hash hint deliberately disables
    it to exercise the pattern) and AQE skew-join splitting (reactive,
    post-shuffle); the explicit salt is the plan-stable form for the
    regimes where neither applies. That triage is MEASURED, not
    asserted (SCALE.md "Round-10 AQE-skew-join crossover ladder",
    ``python tools/ladder.py --rung aqe_skew``): a 33x-row-skew hot key never trips
    AQE's DEFAULT byte trigger (256 MB skewedPartitionThresholdInBytes
    -- a bytes trigger cannot see a task-time straggler that is small
    in bytes, and a column-pruned constant hot key COMPRESSES below
    any threshold); tuned thresholds win where they can be set
    (33.1x -> 2.1x max-task-rows at the best wall), and the salt
    matches tuned AQE's spread (9.0x -> 2.2x at hot=0.2) with no
    runtime replanner at all -- its residual is balls-in-bins
    collision of (hot key, salt) buckets, shrinkable by raising
    SALTED_AGG_SALTS.

    Equivalence is exact: every (l_partkey, salt) fact row meets
    exactly one replicated dim row (its key's copy for that salt), so
    the joined multiset -- and the decimal sums over it -- is
    identical to the unsalted join the DuckDB oracle runs."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    salted = li.select(
        "l_partkey",
        _dec("l_quantity").alias("qty"),
        F.pmod(F.xxhash64("l_orderkey"), F.lit(SALTED_AGG_SALTS)).alias(
            "salt"
        ),
    )
    salts = spark.range(SALTED_AGG_SALTS).select(
        F.col("id").cast("long").alias("salt")
    )
    replicated = (
        part.select("p_partkey", "p_brand")
        .crossJoin(broadcast(salts))
        .hint("shuffle_hash")
    )
    joined = salted.join(
        replicated,
        (F.col("l_partkey") == F.col("p_partkey"))
        & (salted["salt"] == replicated["salt"]),
    )
    return (
        joined.groupBy("p_brand")
        .agg(
            money(F.sum("qty")).alias("total_qty"),
            big(F.count(F.lit(1))).alias("n_items"),
        )
        .orderBy("p_brand")
    )


ANALYTICS_QUERIES["q_salted_join_brand_volume"] = q_salted_join_brand_volume
ANALYTICS_ORACLES["q_salted_join_brand_volume"] = """
    SELECT p_brand,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS STRING)
             AS total_qty,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY p_brand
"""


def q_click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution over the events table: every purchase,
    credited to the SAME USER's most recent click within the trailing
    30-minute window (ties to the larger click_id), or explicitly
    unattributed. The batch form of streaming/attribution.py -- the
    candidate join is the same expression the native watermarked
    stream-stream join runs; this adds the last-touch row_number
    selection the stream defers to its sink reducer.

    Scale shape: both sides are one filtered scan of events; the range
    join shuffles on user_id only (per-user click/purchase sets meet
    in one task; the 30-minute predicate prunes pairs inside the
    task). The selection window repartitions by purchase_id -- bounded
    by purchases x matched clicks, already window-pruned. gap_us is an
    exact integer (unix_micros difference; DuckDB epoch_us), never a
    float duration."""
    ev = load_table(spark, sf_dir, "events")
    from ..streaming.attribution import (
        ATTRIBUTION_WINDOW_MINUTES,
        _join_cond,
        _sides,
    )

    # the LEFT join uses the module's shared _join_cond directly (one
    # purchases scan; the inner-join candidate helper would rescan
    # purchases to recover the unattributed rows), so the predicate
    # stays the single shared expression the stream runs
    c, p = _sides(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    joined = p.join(
        c, _join_cond(c, p, ATTRIBUTION_WINDOW_MINUTES), "left"
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_id",
        "click_ts",
        (
            F.unix_micros(F.col("purchase_ts").cast("timestamp"))
            - F.unix_micros(F.col("click_ts").cast("timestamp"))
        ).alias("gap_us"),
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("click_ts").desc_nulls_last(), F.col("click_id").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            big("purchase_id").alias("purchase_id"),
            big("user_id").alias("user_id"),
            ts_str("purchase_ts").alias("purchase_ts"),
            big("click_id").alias("click_id"),
            big("gap_us").alias("gap_us"),
            F.when(F.col("click_id").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("attributed"),
        )
        .orderBy("purchase_id")
    )


def q_attribution_reduce_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch attribution via the SINK-SIDE reducer shape
    (VERDICT r9 #2): the stream's candidate join
    (streaming/attribution.py attribution_candidates_batch -- literally
    the Column objects the watermarked stream-stream join runs)
    followed by ``last_touch_reduce``'s groupBy-max_by selection, the
    exact computation a deployment runs over the landed candidate
    parquet. Differs from q_click_purchase_attribution in PLAN, not
    semantics: a partial-aggregating groupBy (shuffle carries
    O(purchases)) instead of a row_number window (shuffle carries
    O(candidates)), and inner-join candidates only -- unattributed
    purchases are the sink's non-rows, so this emits the attributed
    subset. The DuckDB oracle replays the same semantics in window
    form, certifying the two shapes agree."""
    ev = load_table(spark, sf_dir, "events")
    from ..streaming.attribution import (
        attribution_candidates_batch,
        last_touch_reduce,
    )

    cand = attribution_candidates_batch(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    return last_touch_reduce(cand).select(
        big("purchase_id").alias("purchase_id"),
        big("user_id").alias("user_id"),
        ts_str("purchase_ts").alias("purchase_ts"),
        big("click_id").alias("click_id"),
        big("gap_us").alias("gap_us"),
    ).orderBy("purchase_id")


ANALYTICS_QUERIES["q_attribution_reduce_candidates"] = (
    q_attribution_reduce_candidates
)
ANALYTICS_ORACLES["q_attribution_reduce_candidates"] = """
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT event_id AS click_id, user_id, ts AS cts
      FROM events WHERE event_type = 'click'),
    j AS (
      SELECT p.purchase_id, p.user_id, p.pts, c.click_id, c.cts,
             row_number() OVER (
               PARTITION BY p.purchase_id
               ORDER BY c.cts DESC, c.click_id DESC) AS rn
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND c.cts <= p.pts
       AND c.cts >= p.pts - INTERVAL 30 MINUTE)
    SELECT CAST(purchase_id AS BIGINT) AS purchase_id,
           CAST(user_id AS BIGINT) AS user_id,
           strftime(pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CAST(click_id AS BIGINT) AS click_id,
           CAST(epoch_us(pts) - epoch_us(cts) AS BIGINT) AS gap_us
    FROM j WHERE rn = 1
    ORDER BY purchase_id
"""


ANALYTICS_QUERIES["q_click_purchase_attribution"] = q_click_purchase_attribution
ANALYTICS_ORACLES["q_click_purchase_attribution"] = """
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT event_id AS click_id, user_id, ts AS cts
      FROM events WHERE event_type = 'click'),
    j AS (
      SELECT p.purchase_id, p.user_id, p.pts, c.click_id, c.cts,
             row_number() OVER (
               PARTITION BY p.purchase_id
               ORDER BY c.cts DESC NULLS LAST, c.click_id DESC) AS rn
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id
       AND c.cts <= p.pts
       AND c.cts >= p.pts - INTERVAL 30 MINUTE)
    SELECT CAST(purchase_id AS BIGINT) AS purchase_id,
           CAST(user_id AS BIGINT) AS user_id,
           strftime(pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CAST(click_id AS BIGINT) AS click_id,
           CAST(CASE WHEN click_id IS NULL THEN NULL
                ELSE epoch_us(pts) - epoch_us(cts) END AS BIGINT) AS gap_us,
           CAST(CASE WHEN click_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS attributed
    FROM j WHERE rn = 1
    ORDER BY purchase_id
"""
