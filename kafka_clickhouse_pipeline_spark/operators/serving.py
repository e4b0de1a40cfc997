"""The reference's four serving queries (its complete analytical
surface, SURVEY.md section 2.7), re-targeted at the driver's ``events``
fixture table per FIXTURES.md A3:

    ts ~ event_time, user_id ~ product_id, event_type ~ movement_type,
    value ~ total/quantity-ish measure.

Reference originals (file:line in /root/reference/web-app/app.py):
  - sales_by_hour  app.py:57-66
  - stock_top5     app.py:91-101
  - recent_sales   app.py:126-135
  - status_counts  app.py:158-160

Determinism contract: the reference uses ``now() - INTERVAL n DAY``;
fixtures are static, so relative predicates anchor at a fixed timestamp
(ANCHOR) that both Spark and the DuckDB oracle see identically
(SURVEY.md section 7, risk 3). Money sums are computed as
decimal(18,2) so aggregation is exact and order-insensitive -- no
floating-point drift between engines.

Scale notes: every query is a single ``events`` scan. When that scan
is one input split (the fixtures up to sf0.1: one file, one row
group), ``_events`` declares it with ``coalesce(1)``; Catalyst then
plans no exchange, and the aggregate, sort and limit all run in the
scan's one task, one Spark job per chart. At 100 TB the scan is many
splits and each query is scan -> partial agg -> shuffle-on-group-key
-> final agg (or TakeOrderedAndProject for the top-K/recent-N forms).
Filters and column pruning reach the parquet scan in both shapes; no
joins, no UDFs, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, scan_partitions
from ..functions import ch_if, to_start_of_hour
from ..functions.canon import money, ts_str

#: Fixed "now" for relative-time predicates over static fixtures.
ANCHOR = "2024-01-30 00:00:00"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` table every serving query reads, coalesced to one
    partition when its scan is already one split. Over one partition,
    ``coalesce(1)`` never changes rows, and it lets Catalyst satisfy
    every aggregate and sort without an exchange: each chart route runs
    as one Spark job with one task (up to 4 before, with a range-sort
    sampling job and separate AQE map and result stages). So a wrong
    partition count can only cost parallelism, never a wrong answer."""
    events = load_table(spark, sf_dir, "events")
    if scan_partitions(spark, sf_dir, "events") == 1:
        return events.coalesce(1)
    return events


def sales_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-bucketed totals over the last 24 h (app.py:57-66).

    ClickHouse shape:
        SELECT toStartOfHour(event_time) as hour,
               sum(quantity) as total_quantity, sum(total) as revenue
        FROM sales WHERE event_time >= now() - INTERVAL 1 DAY
        GROUP BY hour ORDER BY hour

    Mapped: purchases in the 24 h before ANCHOR; count(*) stands in for
    sum(quantity) (events carry no quantity), sum(value) for revenue.

    The query bounds its result to at most 24 rows (a 1-day window
    grouped by hour), so it is sorted in one partition: no range
    shuffle and no sampling job when the scan is many splits.
    """
    events = _events(spark, sf_dir)
    return (
        events.filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.lit(ANCHOR).cast("timestamp") - F.expr("INTERVAL 1 DAY"))
            & (F.col("ts") < F.lit(ANCHOR).cast("timestamp"))
        )
        .groupBy(to_start_of_hour("ts").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("total_quantity"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("rev"),
        )
        .coalesce(1)
        .sortWithinPartitions("hour_ts")
        .select(
            ts_str("hour_ts").alias("hour"),
            "total_quantity",
            money("rev").alias("revenue"),
        )
    )


def stock_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key conditional incoming/outgoing totals over the last 7
    days, top-5 by total movement (app.py:91-101).

    ClickHouse shape:
        SELECT product_id,
               sum(if(movement_type = 'supply', quantity, 0)) as incoming,
               sum(if(movement_type IN ('relocation','write_off'), quantity, 0)) as outgoing
        FROM stock_movements WHERE event_time >= now() - INTERVAL 7 DAY
        GROUP BY product_id ORDER BY (incoming + outgoing) DESC LIMIT 5

    Mapped: user_id ~ product_id, event_type ~ movement_type
    ('purchase' ~ supply incoming; 'click'/'view' ~ outgoing), value ~
    quantity. user_id is the deterministic tiebreaker. Spark plans the
    ORDER BY+LIMIT as TakeOrderedAndProject -- true top-K, no full sort.
    """
    events = _events(spark, sf_dir)
    dec = F.col("value").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    agged = (
        events.filter(
            (F.col("ts") >= F.lit(ANCHOR).cast("timestamp") - F.expr("INTERVAL 7 DAY"))
            & (F.col("ts") < F.lit(ANCHOR).cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(
            F.sum(ch_if(F.col("event_type") == "purchase", dec, zero)).alias("incoming"),
            F.sum(
                ch_if(F.col("event_type").isin("click", "view"), dec, zero)
            ).alias("outgoing"),
        )
    )
    return (
        agged.orderBy((F.col("incoming") + F.col("outgoing")).desc(), F.col("user_id"))
        .limit(5)
        .select("user_id", money("incoming").alias("incoming"), money("outgoing").alias("outgoing"))
    )


def recent_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest 10 sale rows -- projection + recent-N (app.py:126-135).

    ClickHouse shape:
        SELECT event_time, product_name, quantity, total
        FROM sales ORDER BY event_time DESC LIMIT 10

    event_id is the deterministic tiebreaker. TakeOrderedAndProject.
    """
    events = _events(spark, sf_dir)
    return (
        events.filter(F.col("event_type") == "purchase")
        .orderBy(F.col("ts").desc(), F.col("event_id"))
        .limit(10)
        .select(
            "event_id",
            ts_str("ts").alias("ts"),
            "user_id",
            money(F.col("value").cast("decimal(18,2)")).alias("value"),
        )
    )


def status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table row counts, the /api/status health query
    (app.py:158-160): ``SELECT count() FROM sales`` + ``FROM
    stock_movements``. Mapped: per-event_type counts over events --
    same COUNT(*) aggregate, one row per logical table. Its row count
    is set by the data, not by the query, so it keeps a global
    ``orderBy``."""
    events = _events(spark, sf_dir)
    return (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("row_count"))
        .orderBy("event_type")
    )


#: The same four queries as raw SQL strings executed by spark.sql over
#: registered views -- the reference's entry style (app.py passes SQL
#: strings to clickhouse-driver). They return the same rows as the
#: DataFrame forms (asserted in tests/test_sql_interface.py).
def _serving_sql(ts_render: str) -> dict[str, str]:
    """The four serving queries as SQL. ``ts_render`` is a
    ``{}``-style format spec rendering a timestamp expression to the
    canonical 'yyyy-MM-dd HH:mm:ss' string: Spark uses date_format,
    DuckDB uses strftime — the only dialect split; everything else is
    the shared ANSI subset."""
    hour_s = ts_render.format("date_trunc('hour', ts)")
    ts_s = ts_render.format("ts")
    return {
        "sales_by_hour": f"""
            SELECT {hour_s} AS hour,
                   count(*) AS total_quantity,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS STRING) AS revenue
            FROM events
            WHERE event_type = 'purchase'
              AND ts >= TIMESTAMP '{ANCHOR}' - INTERVAL 1 DAY
              AND ts < TIMESTAMP '{ANCHOR}'
            GROUP BY 1 ORDER BY 1
        """,
        "stock_top5": f"""
            SELECT user_id,
                   CAST(CAST(incoming AS DECIMAL(38,2)) AS STRING) AS incoming,
                   CAST(CAST(outgoing AS DECIMAL(38,2)) AS STRING) AS outgoing
            FROM (
              SELECT user_id,
                     sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(value AS DECIMAL(18,2))
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS incoming,
                     sum(CASE WHEN event_type IN ('click','view')
                              THEN CAST(value AS DECIMAL(18,2))
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS outgoing
              FROM events
              WHERE ts >= TIMESTAMP '{ANCHOR}' - INTERVAL 7 DAY
                AND ts < TIMESTAMP '{ANCHOR}'
              GROUP BY user_id
              ORDER BY (incoming + outgoing) DESC, user_id
              LIMIT 5
            ) t
        """,
        "recent_sales": f"""
            SELECT event_id, {ts_s} AS ts, user_id,
                   CAST(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,2)) AS STRING) AS value
            FROM events
            WHERE event_type = 'purchase'
            ORDER BY events.ts DESC, event_id
            LIMIT 10
        """,
        "status_counts": """
            SELECT event_type, count(*) AS row_count
            FROM events
            GROUP BY event_type ORDER BY event_type
        """,
    }


#: Spark-parsable SQL (spark.sql entry style, tests/test_sql_interface.py).
SERVING_SQL: dict[str, str] = _serving_sql("date_format({}, 'yyyy-MM-dd HH:mm:ss')")


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Execute a raw SQL string against the registered fixture views --
    the ClickHouse-style entry point."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(query)


#: DuckDB oracle SQL: identical shapes, strftime for the canonical
#: timestamp-string rendering (functions/canon.py convention).
SERVING_ORACLES: dict[str, str] = _serving_sql("strftime({}, '%Y-%m-%d %H:%M:%S')")

