"""The reference's ClickHouse SQL runs VERBATIM through the dialect
layer and produces exactly what the engine's DataFrame path produces.

Query strings below are quoted from the reference as its public query
contract (web-app/app.py:57-66, 91-101, 126-135, 158 and the sales_mv
SELECT body, generate_data.py:210-228) -- they are the inputs the
translation layer exists to accept, not engine code."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from kafka_clickhouse_pipeline_spark.functions.clickhouse_dialect import (
    run_clickhouse_sql,
    translate,
)

ANCHOR = "2024-01-15 12:30:00"


@pytest.fixture(scope="module")
def sales_view(spark):
    """A tiny `sales` table shaped like the reference target
    (generate_data.py:154-174), spanning both sides of every relative
    window the dashboard queries use."""
    t0 = dt.datetime(2024, 1, 15, 10, 0, 0)
    rows = [
        # event_id, event_time, product_id, product_name, quantity, price, total
        ("e1", t0, 1, "widget", 2, Decimal("10.00"), Decimal("20.00")),
        ("e2", t0.replace(hour=11), 2, "gadget", 1, Decimal("5.50"), Decimal("5.50")),
        ("e3", t0.replace(hour=11, minute=45), 1, "widget", 3, Decimal("10.00"), Decimal("30.00")),
        # outside the 1-day window (8 days earlier)
        ("e4", t0 - dt.timedelta(days=8), 3, "relic", 1, Decimal("1.00"), Decimal("1.00")),
    ]
    spark.createDataFrame(
        rows,
        "event_id STRING, event_time TIMESTAMP, product_id LONG, "
        "product_name STRING, quantity INT, price DECIMAL(9,2), total DECIMAL(9,2)",
    ).createOrReplaceTempView("sales")
    return spark


def test_sales_by_hour_verbatim(sales_view):
    """app.py:57-66 runs unmodified: toStartOfHour, now() - INTERVAL,
    alias GROUP BY/ORDER BY."""
    sql = """
        SELECT
            toStartOfHour(event_time) as hour,
            sum(quantity) as total_quantity,
            sum(total) as revenue
        FROM sales
        WHERE event_time >= now() - INTERVAL 1 DAY
        GROUP BY hour
        ORDER BY hour
    """
    got = [tuple(r) for r in run_clickhouse_sql(sales_view, sql, anchor=ANCHOR).collect()]
    assert got == [
        (dt.datetime(2024, 1, 15, 10), 2, Decimal("20.00")),
        (dt.datetime(2024, 1, 15, 11), 4, Decimal("35.50")),
    ]


def test_stock_top5_verbatim(spark):
    """app.py:91-101 runs unmodified: if(), IN-list, computed alias
    expression in ORDER BY, LIMIT."""
    t = dt.datetime(2024, 1, 15, 9, 0, 0)
    rows = [
        ("m1", t, 1, 5, "supply"),
        ("m2", t, 1, 2, "write_off"),
        ("m3", t, 2, 9, "supply"),
        ("m4", t, 3, 1, "relocation"),
        ("m5", t - dt.timedelta(days=9), 1, 100, "supply"),  # outside 7d
    ]
    spark.createDataFrame(
        rows,
        "event_id STRING, event_time TIMESTAMP, product_id LONG, "
        "quantity INT, movement_type STRING",
    ).createOrReplaceTempView("stock_movements")
    sql = """
        SELECT
            product_id,
            sum(if(movement_type='supply', quantity, 0)) as incoming,
            sum(if(movement_type IN ('relocation', 'write_off'), quantity, 0)) as outgoing
        FROM stock_movements
        WHERE event_time >= now() - INTERVAL 7 DAY
        GROUP BY product_id
        ORDER BY (incoming + outgoing) DESC
        LIMIT 5
    """
    got = [tuple(r) for r in run_clickhouse_sql(spark, sql, anchor=ANCHOR).collect()]
    assert got[0] == (2, 9, 0)
    assert (1, 5, 2) in got and (3, 0, 1) in got
    assert len(got) == 3


def test_recent_sales_and_count_verbatim(sales_view):
    """app.py:126-135 and the count() probe (app.py:158)."""
    got = [
        tuple(r)
        for r in run_clickhouse_sql(
            sales_view,
            "SELECT product_id, quantity, price, event_time FROM sales "
            "ORDER BY event_time DESC LIMIT 10",
        ).collect()
    ]
    assert len(got) == 4
    assert got[0][0] == 1 and got[0][1] == 3  # e3 is latest
    n = run_clickhouse_sql(sales_view, "SELECT count() FROM sales").collect()
    assert n[0][0] == 4


def test_sales_mv_select_body_matches_transform(spark):
    """The sales_mv SELECT body (generate_data.py:210-228) translated
    and run as batch SQL over the raw view == the engine's
    transforms.parse_sales (minus the ingestion-time column, which the
    MV DDL adds via the target table's DEFAULT now())."""
    from kafka_clickhouse_pipeline_spark.streaming.transforms import parse_sales

    raw_rows = [
        ("r1", "sale", "2024-01-15 10:00:00", 1, "widget", "cat", 2,
         10.0, 0.5, 19.5, 7, 3, "c1"),
        ("r2", "sale", "not-a-date", 2, "gadget", "cat", 1,
         5.5, 0.0, 5.5, 7, 3, "c2"),
        ("r3", "sale", "2024-01-15 11:00:00", 3, "relic", "cat", 1,
         None, 0.0, 1.0, 7, 3, "c3"),  # price NULL -> filtered
    ]
    schema = (
        "event_id STRING, event_type STRING, event_time STRING, "
        "product_id LONG, product_name STRING, category STRING, "
        "quantity INT, price DOUBLE, discount DOUBLE, total DOUBLE, "
        "store_id INT, cashier_id INT, customer_id STRING"
    )
    raw = spark.createDataFrame(raw_rows, schema)
    raw.createOrReplaceTempView("sales_kafka")
    sql = """
        SELECT
            event_id,
            event_type,
            parseDateTimeBestEffortOrNull(event_time) as event_time,
            product_id,
            product_name,
            category,
            quantity,
            toDecimal32(price, 2) as price,
            toDecimal32(discount, 2) as discount,
            toDecimal32(total, 2) as total,
            store_id,
            cashier_id,
            customer_id
        FROM sales_kafka
        WHERE price IS NOT NULL
    """
    via_sql = {
        r["event_id"]: tuple(r)
        for r in run_clickhouse_sql(spark, sql).collect()
    }
    via_df = {
        r["event_id"]: tuple(r)[:-1]  # drop processing_time
        for r in parse_sales(raw).collect()
    }
    assert via_sql == via_df
    assert set(via_sql) == {"r1", "r2"}  # r3's NULL price filtered
    assert via_sql["r2"][2] is None  # best-effort parse -> NULL


def test_translator_edge_cases():
    """String literals are opaque; nested calls rewrite inside-out;
    count(expr) is untouched."""
    assert translate("SELECT 'now() toStartOfHour(x)' AS s") == (
        "SELECT 'now() toStartOfHour(x)' AS s"
    )
    assert translate("SELECT count(DISTINCT x) FROM t") == (
        "SELECT count(DISTINCT x) FROM t"
    )
    out = translate("SELECT toYYYYMM(parseDateTimeBestEffortOrNull(e)) FROM t")
    assert "year(coalesce(to_timestamp(e" in out
    assert "toYYYYMM" not in out and "parseDateTimeBestEffort" not in out


# ---- extended dialect surface (round 4) ----


def test_conditional_aggregates_and_argmax(sales_view):
    """sumIf/countIf/uniqExact/argMax over the sales fixture: values
    verified against hand computation."""
    sql = """
        SELECT
            countIf(quantity >= 2) AS n_multi,
            uniqExact(product_id) AS n_products,
            sumIf(total, product_name = 'widget') AS widget_rev,
            argMax(product_name, event_time) AS latest_product,
            argMin(product_name, event_time) AS first_product
        FROM sales
    """
    row = run_clickhouse_sql(sales_view, sql).collect()[0]
    assert tuple(row) == (2, 3, Decimal("50.00"), "widget", "relic")


def test_parametric_quantile_and_multiif(sales_view):
    sql = """
        SELECT
            quantileExact(0.5)(quantity) AS med_q,
            multiIf(count() > 3, 'big', count() > 1, 'mid', 'small') AS size
        FROM sales
    """
    row = run_clickhouse_sql(sales_view, sql).collect()[0]
    assert row["med_q"] == 1.5  # sorted quantities 1,1,2,3
    assert row["size"] == "big"


def test_arrayjoin_splitbychar_has(spark):
    spark.createDataFrame(
        [("a b", ["x", "y"]), ("c", ["y"])], "s STRING, arr ARRAY<STRING>"
    ).createOrReplaceTempView("tokens_t")
    got = sorted(
        tuple(r)
        for r in run_clickhouse_sql(
            spark,
            "SELECT arrayJoin(splitByChar(' ', s)) AS w, has(arr, 'x') AS hx "
            "FROM tokens_t",
        ).collect()
    )
    assert got == [("a", True), ("b", True), ("c", False)]


def test_json_extract_and_datetime_functions(spark):
    import datetime as dt

    spark.createDataFrame(
        [('{"k": 7, "s": "hi"}', dt.datetime(2024, 1, 15, 10, 30, 45))],
        "props STRING, ts TIMESTAMP",
    ).createOrReplaceTempView("jdt_t")
    sql = """
        SELECT
            JSONExtractInt(props, 'k') AS k,
            JSONExtractString(props, 's') AS s,
            formatDateTime(ts, '%F %H:%i:%S') AS fmt,
            formatDateTime(toStartOfMonth(ts), '%Y-%m') AS month,
            toDayOfWeek(ts) AS dow,
            toHour(ts) AS h,
            intDiv(toMinute(ts), 10) AS m10,
            modulo(toSecond(ts), 7) AS s7,
            toUInt32(toYear(ts)) AS y
        FROM jdt_t
    """
    row = run_clickhouse_sql(spark, sql).collect()[0]
    # 2024-01-15 is a Monday -> ClickHouse toDayOfWeek == 1
    assert tuple(row) == (
        7, "hi", "2024-01-15 10:30:45", "2024-01", 1, 10, 3, 3, 2024
    )


def test_prewhere_and_literal_opacity(sales_view):
    got = run_clickhouse_sql(
        sales_view,
        "SELECT count() FROM sales PREWHERE product_name = 'widget'",
    ).collect()
    assert got[0][0] == 2
    # PREWHERE inside a string literal is data, not syntax
    assert "PREWHERE x" in translate("SELECT 'PREWHERE x' AS s FROM t")


def test_format_pattern_rejects_unknown_tokens():
    import pytest as _pytest

    from kafka_clickhouse_pipeline_spark.functions.clickhouse_dialect import (
        _format_pattern,
    )

    with _pytest.raises(ValueError):
        _format_pattern("'%Q'")
    # literal letter runs are quoted so the JVM formatter treats them
    # as text, not pattern chars
    assert _format_pattern("'%Y at %H'") == "'yyyy' at 'HH'"


def test_multiif_requires_else_branch():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        translate("SELECT multiIf(a, b) FROM t")


def test_group_array_any_and_limit_by(sales_view):
    """Round-4 sixteenth-batch dialect widening: groupArray /
    groupUniqArray / any / anyLast map to their Spark contracts, and
    ClickHouse's LIMIT n BY rewrites to a deterministic
    row_number-per-group window under the query's own ORDER BY."""
    sql = """
        SELECT product_name,
               toStartOfHour(event_time) as hour,
               sum(total) as revenue
        FROM sales
        GROUP BY product_name, hour
        ORDER BY revenue DESC, product_name, hour
        LIMIT 1 BY product_name
        LIMIT 10
    """
    got = [
        (r["product_name"], str(r["revenue"]))
        for r in run_clickhouse_sql(sales_view, sql, anchor=ANCHOR).collect()
    ]
    # one best hour per product, presentation order by revenue desc
    assert got == [("widget", "30.00"), ("gadget", "5.50"), ("relic", "1.00")]

    agg = translate(
        "SELECT any(price) as p, anyLast(price) as q, "
        "groupArray(event_id) as g, groupUniqArray(product_id) as u "
        "FROM sales GROUP BY product_id"
    )
    assert "any_value(price)" in agg
    assert "collect_list(event_id)" in agg
    assert "collect_set(product_id)" in agg


def test_any_quantified_comparison_untouched():
    """`> ANY (SELECT ...)` is the SQL quantified comparison, not the
    ClickHouse aggregate; the rewrite must leave it alone."""
    sql = "SELECT * FROM t WHERE x > ANY (SELECT y FROM u)"
    assert translate(sql) == sql


def test_limit_by_without_order_by_rejected():
    with pytest.raises(ValueError, match="ORDER BY"):
        translate("SELECT a, b FROM t LIMIT 2 BY a")


def test_limit_by_offset_forms(sales_view):
    """ADVICE r4: ClickHouse's offset variants -- `LIMIT off, n BY`
    and `LIMIT n OFFSET off BY` -- translate to the windowed
    `BETWEEN off+1 AND off+n` filter instead of falling through to a
    Spark parse error. Skipping the best hour per product keeps each
    product's SECOND-best hour."""
    base = """
        SELECT product_name,
               toStartOfHour(event_time) as hour,
               sum(total) as revenue
        FROM sales
        GROUP BY product_name, hour
        ORDER BY revenue DESC, product_name, hour
        {limit_by}
    """
    first = {
        (r["product_name"], str(r["revenue"]))
        for r in run_clickhouse_sql(
            sales_view, base.format(limit_by="LIMIT 1 BY product_name"),
            anchor=ANCHOR,
        ).collect()
    }
    for form in ("LIMIT 1, 1 BY product_name",
                 "LIMIT 1 OFFSET 1 BY product_name"):
        got = {
            (r["product_name"], str(r["revenue"]))
            for r in run_clickhouse_sql(
                sales_view, base.format(limit_by=form), anchor=ANCHOR
            ).collect()
        }
        # second-best rows only: disjoint from the per-product best,
        # and only products with >= 2 hours appear
        assert got
        assert not (got & first), (form, got, first)
        sql = translate(base.format(limit_by=form), anchor=ANCHOR)
        assert "BETWEEN 2 AND 2" in sql, sql


# ---- one lexer: comments and quoted names are opaque ----


@pytest.mark.parametrize(
    "sql, want",
    [
        # the apostrophe in the comment opens no string literal, so the
        # now() after it still takes the anchor
        (
            "SELECT count() AS n -- the user's count\nFROM events WHERE ts < now()",
            "SELECT count(*) AS n -- the user's count\n"
            f"FROM events WHERE ts < TIMESTAMP '{ANCHOR}'",
        ),
        (
            "SELECT /* it's */ uniqExact(user_id) FROM events",
            "SELECT /* it's */ count(DISTINCT user_id) FROM events",
        ),
        ("SELECT count() AS `count()` FROM t", "SELECT count(*) AS `count()` FROM t"),
        ('SELECT "toDate(x)" FROM t', 'SELECT "toDate(x)" FROM t'),
    ],
    ids=["line_comment", "block_comment", "backtick_name", "double_quoted_name"],
)
def test_comments_and_quoted_names_are_opaque(sql, want):
    assert translate(sql, anchor=ANCHOR) == want


def test_limit_by_with_a_trailing_line_comment_runs(sales_view):
    """The LIMIT BY rewrite places the BY columns before generated SQL;
    a trailing -- comment on them must not swallow that SQL."""
    sql = """
        SELECT product_name,
               toStartOfHour(event_time) as hour,
               sum(total) as revenue
        FROM sales
        GROUP BY product_name, hour
        ORDER BY revenue DESC, product_name, hour
        LIMIT 1 BY product_name"""
    plain = [tuple(r) for r in run_clickhouse_sql(sales_view, sql).collect()]
    commented = [
        tuple(r)
        for r in run_clickhouse_sql(
            sales_view, sql + " -- the best hour of each product"
        ).collect()
    ]
    assert plain and commented == plain
