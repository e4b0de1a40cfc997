"""End-to-end HTTP tests for the serving layer: start the server, hit
all four endpoints like the dashboard does, check payload shapes."""

from __future__ import annotations

import json
import urllib.request

import pytest

from kafka_clickhouse_pipeline_spark import serving_app


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
        # partial-agg shuffle, range-sort sample, range shuffle, sorted collect
        ("sales", 4),
        # partial-agg shuffle, final agg + top-5 collect
        ("stock", 2),
        # one top-10 scan
        ("recent", 1),
        # partial-agg shuffle, range-sort sample, range shuffle, sorted collect
        ("status", 4),
        # (day, user) agg shuffle, distinct-agg shuffle, top-1000 collect;
        # register_views reloads all ten tables and starts no job
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
