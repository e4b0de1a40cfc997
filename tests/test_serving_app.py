"""End-to-end HTTP tests for the serving layer: start the server, hit
all four endpoints like the dashboard does, check payload shapes."""

from __future__ import annotations

import json
import logging
import os
import re
import time
import urllib.request

import pytest
from pyspark.errors import AnalysisException

from kafka_clickhouse_pipeline_spark import serving_app
from kafka_clickhouse_pipeline_spark.catalog import load_table, table_path
from kafka_clickhouse_pipeline_spark.operators import serving


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    httpd = serving_app.serve(spark, sf_dir, port=0)  # ephemeral port
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()


def _get(base, path):
    with urllib.request.urlopen(base + path, timeout=120) as resp:
        return resp.status, json.loads(resp.read())


def test_api_sales(server):
    status, payload = _get(server, "/api/sales")
    assert status == 200
    assert set(payload) == {"labels", "quantity", "revenue"}
    assert len(payload["labels"]) == len(payload["quantity"]) == len(payload["revenue"])


def test_api_stock(server):
    status, payload = _get(server, "/api/stock")
    assert status == 200
    assert set(payload) == {"labels", "incoming", "outgoing"}
    assert len(payload["labels"]) <= 5


def test_api_recent(server):
    status, payload = _get(server, "/api/recent")
    assert status == 200
    assert len(payload["sales"]) <= 10
    if payload["sales"]:
        assert set(payload["sales"][0]) == {"time", "product", "quantity", "total"}


def test_api_status(server):
    status, payload = _get(server, "/api/status")
    assert status == 200
    assert payload["status"] == "ok"
    assert sum(payload["counts"].values()) > 0


def test_dashboard_page(server):
    """'/' serves the HTML dashboard (reference web-app/templates/
    index.html, polled every 5 s per index.html:165); the page must
    reference every API endpoint it renders."""
    with urllib.request.urlopen(server + "/", timeout=120) as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("text/html")
        html = resp.read().decode()
    for endpoint in ("/api/sales", "/api/stock", "/api/recent", "/api/status"):
        assert endpoint in html
    assert "5000" in html  # 5 s poll interval, like the reference


def test_unknown_route_404(server):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/nope")
    assert e.value.code == 404


def test_api_sales_payload_formats_match_reference(server):
    """The reference formats hour labels as '%H:%M' and revenue as
    round(x, 2) in Python (app.py:71-72); assert the same JSON wire
    format, not just the key set."""
    import re

    _, payload = _get(server, "/api/sales")
    assert all(re.fullmatch(r"\d{2}:\d{2}", lab) for lab in payload["labels"])
    assert all(isinstance(q, int) for q in payload["quantity"])
    assert all(round(r, 2) == r for r in payload["revenue"])


def test_api_recent_time_format_matches_reference(server):
    """recent-sales 'time' uses the reference's '%Y-%m-%d %H:%M:%S'
    rendering (app.py:143)."""
    import re

    _, payload = _get(server, "/api/recent")
    for row in payload["sales"]:
        assert re.fullmatch(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", row["time"])


def test_api_sql_clickhouse_dialect(server):
    """POST /api/sql accepts ClickHouse-dialect SQL verbatim (the ad-hoc
    path a reference user has against ClickHouse): toStartOfHour /
    count() / INTERVAL arithmetic all translate; bad SQL returns a 400
    JSON error instead of crashing the server."""
    import json as _json
    import urllib.error
    import urllib.request

    sql = (
        "SELECT toStartOfHour(ts) as hour, count() as n FROM events "
        "WHERE ts >= now() - INTERVAL 1 DAY GROUP BY hour ORDER BY hour"
    )
    req = urllib.request.Request(
        server + "/api/sql", data=sql.encode(), method="POST"
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        assert resp.status == 200
        payload = _json.loads(resp.read())
    assert payload["columns"] == ["hour", "n"]
    assert payload["rows"], "anchored 24h window should contain events"
    for hour, n in payload["rows"]:
        assert hour.endswith(":00:00") and n > 0

    bad = urllib.request.Request(
        server + "/api/sql", data=b"SELECT FROM nowhere", method="POST"
    )
    try:
        urllib.request.urlopen(bad, timeout=120)
        raise AssertionError("bad SQL must return 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert "error" in _json.loads(e.read())


def _post_sql(base, sql: bytes):
    import urllib.error

    req = urllib.request.Request(base + "/api/sql", data=sql, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.mark.parametrize(
    "sql, condition",
    [(b"SELECT countIf(", "PARSE_SYNTAX_ERROR"), (b"", "PARSE_EMPTY_STATEMENT")],
)
def test_api_sql_parse_error_names_its_condition(server, sql, condition):
    """Spark's ParseException text starts with a blank line; the 400's
    error must be its first non-empty line, not ''."""
    status, payload = _post_sql(server, sql)
    assert status == 400
    assert condition in payload["error"]


#: The ad-hoc query the dashboard benchmark sends to /api/sql.
_ADHOC_SQL = (
    "SELECT toStartOfDay(ts) AS day, countIf(event_type = 'purchase') AS purchases, "
    "uniqExact(user_id) AS users "
    "FROM events WHERE ts >= now() - INTERVAL 7 DAY AND ts < now() GROUP BY day ORDER BY day"
)


@pytest.mark.parametrize(
    "route, jobs",
    [
        # the events scan is one split: scan, agg and sort in one task
        ("sales", 1),
        # one split: scan, agg and top-5 in one task
        ("stock", 1),
        # one split: one top-10 scan
        ("recent", 1),
        # one split: scan, agg and sort in one task
        ("status", 1),
        # (day, user) agg shuffle, distinct-agg shuffle, top-1000 collect;
        # register_views reloads only `events` and starts no job
        ("sql", 3),
    ],
)
def test_warm_route_jobs(spark, sf_dir, count_jobs, route, jobs):
    """Jobs per warm request, pinned: no route pays a parquet
    schema-inference job (catalog.load_table caches the schema)."""
    if route == "sql":
        def call():
            serving_app.get_sql_payload(spark, sf_dir, _ADHOC_SQL)
    else:
        def call():
            serving_app.ROUTES[f"/api/{route}"](spark, sf_dir)
    call()
    assert count_jobs(call) == jobs


def _oracle_payloads(oracle) -> dict[str, dict]:
    """Each chart route's payload, computed by DuckDB over
    SERVING_ORACLES and shaped the way serving_app shapes Spark's rows."""
    def rows(name):
        res = oracle.execute(serving.SERVING_ORACLES[name])
        cols = [d[0] for d in res.description]
        return [dict(zip(cols, r)) for r in res.fetchall()]

    sales, stock = rows("sales_by_hour"), rows("stock_top5")
    recent, status = rows("recent_sales"), rows("status_counts")
    return {
        "sales": {"labels": [r["hour"][11:16] for r in sales],
                  "quantity": [int(r["total_quantity"]) for r in sales],
                  "revenue": [round(float(r["revenue"]), 2) for r in sales]},
        "stock": {"labels": [f"Product {r['user_id']}" for r in stock],
                  "incoming": [float(r["incoming"]) for r in stock],
                  "outgoing": [float(r["outgoing"]) for r in stock]},
        "recent": {"sales": [{"time": r["ts"], "product": f"Product {r['user_id']}",
                              "quantity": 1, "total": float(r["value"])} for r in recent]},
        "status": {"status": "ok",
                   "counts": {r["event_type"]: int(r["row_count"]) for r in status}},
    }


@pytest.mark.parametrize(
    "splits, jobs",
    [
        # coalesce(1) over the one split: no exchange, one job per route
        ("one", {"sales": 1, "stock": 1, "recent": 1, "status": 1}),
        # agg shuffle + sorted collect in one partition (<= 24 rows);
        # agg shuffle + top-5; one top-10 scan; agg shuffle, range-sort
        # sample, range shuffle, sorted collect
        ("many", {"sales": 2, "stock": 2, "recent": 1, "status": 4}),
    ],
    ids=("one_split", "many_splits"),
)
def test_one_split_gate_branches(spark, sf_dir, oracle, count_jobs, splits, jobs):
    """Both branches of the serving queries' one-split gate, through the
    public route functions: byte-identical payloads to the DuckDB
    oracles, and the jobs each branch plans. The many-split branch
    shrinks the split size in the same session, so a partition-count
    cache that ignored the conf would keep coalescing and fail the pin."""
    conf = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(conf, None)
    if splits == "many":
        spark.conf.set(conf, str(os.path.getsize(table_path(sf_dir, "events")) // 4))
    try:
        n = load_table(spark, sf_dir, "events").rdd.getNumPartitions()
        assert (n == 1) if splits == "one" else (n > 1)
        expected = _oracle_payloads(oracle)
        for route, want in jobs.items():
            fn = serving_app.ROUTES[f"/api/{route}"]
            assert json.dumps(fn(spark, sf_dir)) == json.dumps(expected[route]), route
            assert count_jobs(lambda: fn(spark, sf_dir)) == want, route
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def test_api_sql_joins_two_tables(spark, sf_dir, oracle):
    """Only the tables a query names are registered; a join of two
    of them works and matches DuckDB."""
    sql = (
        "SELECT n.n_name, r.r_name FROM nation n JOIN region r "
        "ON n.n_regionkey = r.r_regionkey ORDER BY n.n_name"
    )
    payload = serving_app.get_sql_payload(spark, sf_dir, sql)
    assert payload["columns"] == ["n_name", "r_name"]
    assert payload["rows"] == [list(r) for r in oracle.execute(sql).fetchall()]
    assert payload["rows"]


def test_api_sql_unknown_table_is_not_found(spark, sf_dir):
    with pytest.raises(AnalysisException) as exc:
        serving_app.get_sql_payload(spark, sf_dir, "SELECT count() FROM no_such_table")
    assert exc.value.getCondition() == "TABLE_OR_VIEW_NOT_FOUND"


def test_named_tables_match_whole_identifiers():
    """Table names match whole identifier tokens, case-insensitively:
    ``partition`` does not name ``part``, nor ``order`` ``orders``."""
    named = serving_app._named_tables
    assert named("SELECT * FROM Orders o JOIN LINEITEM l ON o.o_orderkey = l.l_orderkey") == [
        "orders", "lineitem"]
    assert named("SELECT row_number() OVER (PARTITION BY x ORDER BY y) FROM t") == []
    assert named("SELECT p_name FROM `part`") == ["part"]


def test_requests_are_logged(server, caplog):
    """One INFO line per request on the module logger: method, path,
    status and milliseconds."""
    caplog.set_level(logging.INFO, logger=serving_app.log.name)
    assert _get(server, "/api/status")[0] == 200
    assert _post_sql(server, b"SELECT FROM nowhere")[0] == 400
    pattern = re.compile(r"(GET /api/status 200|POST /api/sql 400) \d+\.\d ms")
    deadline = time.monotonic() + 10
    while True:  # the server thread logs after it has written the reply
        lines = [r.getMessage() for r in caplog.records if r.name == serving_app.log.name]
        if len(lines) >= 2 or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    assert len(lines) == 2 and all(pattern.fullmatch(ln) for ln in lines), lines
    assert all(r.levelno == logging.INFO for r in caplog.records if r.name == serving_app.log.name)
