"""End-to-end HTTP tests for the serving layer: start the server, hit
all four endpoints like the dashboard does, check payload shapes."""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import socket
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
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
    """Jobs per request, pinned. ``jobs`` is what a request pays to
    compute its rows, with no parquet schema-inference job
    (catalog.load_table caches the schema). A chart route stores its
    rows for the file version, so a warm request after it starts none;
    ``/api/sql`` stores nothing and pays ``jobs`` on every request."""
    if route == "sql":
        def call():
            serving_app.get_sql_payload(spark, sf_dir, _ADHOC_SQL)
        warm = jobs
    else:
        def call():
            serving_app.ROUTES[f"/api/{route}"](spark, sf_dir)
        warm = 0
    call()
    if route != "sql":
        serving_app._stored_rows.cache_clear()
        assert count_jobs(call) == jobs
    assert count_jobs(call) == warm


def test_api_sql_comment_leaves_rows_unchanged(server):
    """A -- comment holding an apostrophe is opaque: both now() after
    it still take the serving anchor, so the benchmark's ad-hoc query
    returns the same rows with the comment as without it."""
    commented = _ADHOC_SQL.replace("AS users ", "AS users -- each user's visits count once\n")
    assert commented != _ADHOC_SQL
    plain_status, plain = _post_sql(server, _ADHOC_SQL.encode())
    status, got = _post_sql(server, commented.encode())
    assert plain_status == status == 200
    assert plain["rows"], "anchored 7-day window should contain events"
    assert got == plain


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
    cache that ignored the conf would keep coalescing and fail the pin.

    The first call computes and stores the route's rows and runs the
    branch's jobs; a warm call runs none in either branch."""
    conf = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(conf, None)
    if splits == "many":
        spark.conf.set(conf, str(os.path.getsize(table_path(sf_dir, "events")) // 4))
    serving_app._stored_rows.cache_clear()
    try:
        n = load_table(spark, sf_dir, "events").rdd.getNumPartitions()
        assert (n == 1) if splits == "one" else (n > 1)
        expected = _oracle_payloads(oracle)
        for route, want in jobs.items():
            fn = serving_app.ROUTES[f"/api/{route}"]
            got = []
            assert count_jobs(lambda: got.append(fn(spark, sf_dir))) == want, route
            assert count_jobs(lambda: got.append(fn(spark, sf_dir))) == 0, route
            for payload in got:
                assert json.dumps(payload) == json.dumps(expected[route]), route
        info = serving_app._stored_rows.cache_info()
        assert (info.misses, info.hits) == (4, 4)
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def _duckdb_over(path: str):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    return con


def test_stored_queries_under_concurrency(spark, sf_dir, oracle):
    """8 threads x 4 routes, cold (all threads miss at once) and warm
    (all shape the stored rows at once): every payload equals DuckDB's."""
    expected = _oracle_payloads(oracle)
    serving_app._stored_rows.cache_clear()
    barrier = threading.Barrier(8)

    def client(i):
        barrier.wait()
        routes = list(expected)[i % 4:] + list(expected)[:i % 4]
        return {r: serving_app.ROUTES[f"/api/{r}"](spark, sf_dir) for r in routes}

    for _ in ("cold", "warm"):
        with ThreadPoolExecutor(8) as pool:
            results = list(pool.map(client, range(8)))
        for got in results:
            assert json.dumps(got, sort_keys=True) == json.dumps(expected, sort_keys=True)
    assert serving_app._stored_rows.cache_info().currsize == 4


def test_rewritten_events_file_is_prepared_again(spark, sf_dir, tmp_path):
    """A rewrite of ``events.parquet`` in place (same inode) is a new
    file version: the next request computes its rows again and
    matches DuckDB over the new file."""
    path = table_path(str(tmp_path), "events")
    shutil.copyfile(table_path(sf_dir, "events"), path)
    con = _duckdb_over(path)
    first = _oracle_payloads(con)
    for route in ("sales", "stock", "recent", "status"):
        fn = serving_app.ROUTES[f"/api/{route}"]
        assert json.dumps(fn(spark, str(tmp_path))) == json.dumps(first[route]), route

    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows // 2), path)
    expected = _oracle_payloads(con)
    assert expected != first
    for route in ("sales", "stock", "recent", "status"):
        fn = serving_app.ROUTES[f"/api/{route}"]
        misses = serving_app._stored_rows.cache_info().misses
        assert json.dumps(fn(spark, str(tmp_path))) == json.dumps(expected[route]), route
        assert serving_app._stored_rows.cache_info().misses == misses + 1, route
    con.close()


def test_directory_events_table_is_never_stored(spark, sf_dir, tmp_path):
    """A directory ``events`` table (a streaming sink's output) is
    computed on every request: nothing is stored, and a file that lands
    in it is seen by the next request."""
    d = table_path(str(tmp_path), "events")
    os.makedirs(d)
    table = pq.read_table(table_path(sf_dir, "events"))
    half = table.num_rows // 2
    pq.write_table(table.slice(0, half), os.path.join(d, "part-0.parquet"))
    con = _duckdb_over(os.path.join(d, "*.parquet"))
    serving_app._stored_rows.cache_clear()
    for landed in (False, True):
        if landed:
            pq.write_table(table.slice(half), os.path.join(d, "part-1.parquet"))
        for route in ("sales", "stock", "recent", "status"):
            fn = serving_app.ROUTES[f"/api/{route}"]
            assert json.dumps(fn(spark, str(tmp_path))) == json.dumps(
                _oracle_payloads(con)[route]), route
    info = serving_app._stored_rows.cache_info()
    assert (info.currsize, info.hits, info.misses) == (0, 0, 0)
    con.close()


def test_time_zone_change_misses_the_stored_query(spark, sf_dir, tmp_path):
    """Stored rows keep the session time zone they were computed in,
    so a request after a time-zone change computes its rows again.
    The fixture's ``ts`` is zone-less, so the rows here come from a copy
    whose ``ts`` is a UTC instant: its hour labels move with the zone."""
    table = pq.read_table(table_path(sf_dir, "events"))
    ts = table["ts"].cast(pa.timestamp("us", tz="UTC"), safe=False)
    table = table.set_column(table.schema.get_field_index("ts"), "ts", ts)
    pq.write_table(table, table_path(str(tmp_path), "events"))
    fn = serving_app.ROUTES["/api/sales"]
    before = spark.conf.get("spark.sql.session.timeZone")
    utc = fn(spark, str(tmp_path))
    assert utc["labels"]
    misses = serving_app._stored_rows.cache_info().misses
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        shifted = fn(spark, str(tmp_path))
        assert serving_app._stored_rows.cache_info().misses == misses + 1
        assert shifted["labels"] != utc["labels"]
        serving_app._stored_rows.cache_clear()
        assert fn(spark, str(tmp_path)) == shifted  # the same rows computed cold
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
    assert fn(spark, str(tmp_path)) == utc


def test_mutated_payload_does_not_reach_the_next_request(spark, sf_dir, oracle):
    """A payload is built afresh from the stored rows on every request:
    a caller that mutates one does not change the next request's."""
    expected = _oracle_payloads(oracle)
    for route, want in expected.items():
        fn = serving_app.ROUTES[f"/api/{route}"]
        first = fn(spark, sf_dir)
        for value in first.values():
            if isinstance(value, list):
                if value and isinstance(value[0], dict):
                    value[0].clear()
                value.append("mutated")
            elif isinstance(value, dict):
                value["mutated"] = -1
        first["status"] = "mutated"
        assert json.dumps(fn(spark, sf_dir)) == json.dumps(want), route


def test_status_answers_500_when_the_context_has_stopped(spark, sf_dir, monkeypatch):
    """``/api/status`` is the health probe: with the SparkContext
    stopped it answers 500 even though its rows are stored, and ``ok``
    again, from the stored rows, once the context is back."""
    httpd = serving_app.serve(spark, sf_dir, port=0)
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        assert _get(base, "/api/status")[1]["status"] == "ok"
        hits = serving_app._stored_rows.cache_info().hits
        monkeypatch.setattr(serving_app, "context_stopped", lambda s: True)
        with pytest.raises(urllib.error.HTTPError) as exc:
            _get(base, "/api/status")
        assert exc.value.code == 500
        assert "stopped" in json.loads(exc.value.read())["error"]
        monkeypatch.undo()
        assert _get(base, "/api/status")[1]["status"] == "ok"
        assert serving_app._stored_rows.cache_info().hits == hits + 1
    finally:
        httpd.shutdown()


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
    status and milliseconds, and the result's row count for a chart or
    SQL payload."""
    caplog.set_level(logging.INFO, logger=serving_app.log.name)
    status, payload = _get(server, "/api/status")
    assert status == 200
    assert _post_sql(server, b"SELECT FROM nowhere")[0] == 400
    assert _post_sql(server, b"SELECT 1 AS one UNION ALL SELECT 2")[0] == 200
    with urllib.request.urlopen(server + "/", timeout=120) as resp:
        assert resp.status == 200
    patterns = [
        rf"GET /api/status 200 \d+\.\d ms rows={len(payload['counts'])}",
        r"POST /api/sql 400 \d+\.\d ms",
        r"POST /api/sql 200 \d+\.\d ms rows=2",
        r"GET / 200 \d+\.\d ms",  # not a payload route: no row count
    ]
    deadline = time.monotonic() + 10
    while True:  # the server thread logs after it has written the reply
        lines = [r.getMessage() for r in caplog.records if r.name == serving_app.log.name]
        if len(lines) >= 4 or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    assert len(lines) == 4, lines
    for pattern in patterns:  # the server threads may log out of order
        assert sum(bool(re.fullmatch(pattern, ln)) for ln in lines) == 1, (pattern, lines)
    assert all(r.levelno == logging.INFO for r in caplog.records if r.name == serving_app.log.name)


def test_api_metrics_counts_requests(spark, sf_dir):
    """``/api/metrics`` counts a known request mix per route: requests,
    errors (status >= 400) and latency count, sum and buckets; and
    reports the stored-query cache's hits and misses."""
    httpd = serving_app.serve(spark, sf_dir, port=0)
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        serving_app._stored_rows.cache_clear()
        for _ in range(3):
            assert _get(base, "/api/sales")[0] == 200
        assert _get(base, "/api/status")[0] == 200
        assert _post_sql(base, b"SELECT FROM nowhere")[0] == 400
        assert _post_sql(base, b"SELECT 1 AS one")[0] == 200
        with pytest.raises(urllib.error.HTTPError):
            _get(base, "/no/such/path")
        status, metrics = _get(base, "/api/metrics")
        assert status == 200
        routes = metrics["routes"]
        assert {r: (m["requests"], m["errors"]) for r, m in routes.items()} == {
            "/api/sales": (3, 0), "/api/status": (1, 0), "/api/sql": (2, 1), "other": (1, 1)}
        buckets = [*map(str, serving_app.LATENCY_BUCKETS_MS), "+Inf"]
        for m in routes.values():
            lat = m["latency_ms"]
            assert list(lat["buckets"]) == buckets
            assert lat["count"] == sum(lat["buckets"].values()) == m["requests"]
            assert lat["sum"] > 0
        assert metrics["prepared"]["misses"] == 2  # sales, status
        assert metrics["prepared"]["hits"] == 2  # the 2nd and 3rd sales
        assert metrics["prepared"]["size"] == 2
        # the first snapshot was counted before it was sent
        assert _get(base, "/api/metrics")[1]["routes"]["/api/metrics"]["requests"] == 1
    finally:
        httpd.shutdown()


def test_api_metrics_payload_keys():
    """The ``/api/metrics`` payload keys: per-route counters and the
    stored-rows cache's counters under ``prepared``."""
    metrics = serving_app.RequestMetrics()
    metrics.record("/api/sales", 200, 1.0)
    snap = metrics.snapshot()
    assert set(snap) == {"routes", "prepared"}
    assert set(snap["routes"]["/api/sales"]) == {"requests", "errors", "latency_ms"}
    assert set(snap["routes"]["/api/sales"]["latency_ms"]) == {"count", "sum", "buckets"}
    assert set(snap["prepared"]) == {"hits", "misses", "size", "max_size"}


def test_api_sql_bad_content_length_is_400(spark, sf_dir):
    """A non-integer or a negative ``Content-Length`` gets a 400 with an
    error body, counted in ``/api/metrics``, while the client holds its
    socket open (a negative length used to block the handler in
    ``rfile.read(-1)``; a non-integer one raised out of ``do_POST``)."""
    httpd = serving_app.serve(spark, sf_dir, port=0)
    port = httpd.server_address[1]
    try:
        for length in ("abc", "-1"):
            with socket.create_connection(("127.0.0.1", port), timeout=5) as sock:
                sock.sendall(
                    f"POST /api/sql HTTP/1.1\r\nHost: localhost\r\n"
                    f"Content-Length: {length}\r\n\r\n".encode()
                )
                reply = b""
                while chunk := sock.recv(65536):  # the server closes after replying
                    reply += chunk
            head, _, body = reply.partition(b"\r\n\r\n")
            assert head.split()[1] == b"400", reply
            assert json.loads(body) == {"error": f"bad Content-Length: {length!r}"}
        routes = _get(f"http://127.0.0.1:{port}", "/api/metrics")[1]["routes"]
        assert (routes["/api/sql"]["requests"], routes["/api/sql"]["errors"]) == (2, 2)
    finally:
        httpd.shutdown()


def test_request_metrics_lose_no_update_under_contention():
    """16 threads record at once with a tiny switch interval: every
    counter is exact, so no read-modify-write was lost."""
    import sys

    metrics = serving_app.RequestMetrics()
    barrier = threading.Barrier(16)

    def worker(i):
        barrier.wait(timeout=30)
        for k in range(500):
            metrics.record("/api/sales" if i % 2 else "/nope", 200 if k % 5 else 500, 1.0)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            for future in [pool.submit(worker, i) for i in range(16)]:
                future.result(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    routes = metrics.snapshot()["routes"]
    for route in ("/api/sales", "other"):
        m = routes[route]
        assert (m["requests"], m["errors"]) == (4000, 800)
        assert m["latency_ms"]["count"] == m["latency_ms"]["buckets"]["5"] == 4000
        assert m["latency_ms"]["sum"] == 4000.0
