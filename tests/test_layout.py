"""Tests for the physical-layout levers: bucketed join has no
exchange, salted join preserves results."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_clickhouse_pipeline_spark import plans
from kafka_clickhouse_pipeline_spark.catalog import load_table
from kafka_clickhouse_pipeline_spark.plans.layout import salted_join, write_bucketed


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    # bucketed tables live in the session warehouse dir (gitignored)
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "orders_b", "o_orderkey")
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey"
    )
    # force the shuffle-join path (tiny fixtures would broadcast) so
    # the bucketing effect is observable
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("lineitem_b").join(spark.table("orders_b"), "o_orderkey")
        plain = lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        # bucketed: both sides pre-partitioned on the key -> no exchange;
        # plain: both sides must shuffle -> two exchanges
        assert plans.count_shuffles(joined) == 0, plans.formatted_plan(joined)
        assert plans.count_shuffles(plain) == 2
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(customer, "o_custkey").groupBy("c_mktsegment").count()
    salted = (
        salted_join(orders, customer, "o_custkey", salt_buckets=4)
        .groupBy("c_mktsegment")
        .count()
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}

