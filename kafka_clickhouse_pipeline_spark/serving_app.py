"""The reference's web serving layer (web-app/app.py) re-expressed over
the Spark engine: four HTTP endpoints, each one analytical query,
returning the same JSON payload shapes the Chart.js dashboard polls
(index.html:49-52, every 5 s).

Reference endpoint -> query mapping (file:line in /root/reference):
  /api/sales    app.py:50-77   -> operators.serving.sales_by_hour
  /api/stock    app.py:80-110  -> operators.serving.stock_top5
  /api/recent   app.py:113-147 -> operators.serving.recent_sales
  /api/status   app.py:150-178 -> operators.serving.status_counts

Python's stdlib HTTP server stands in for Flask+gunicorn (no new
dependencies); the layering is identical -- the handler calls a
function that returns rows, then shapes chart JSON client-side, exactly
like the reference formats labels in Python (app.py:69-73).

Operational guards mirrored from the reference: table-existence check
before every query with graceful empty payloads (app.py:16-42), and
/api/status as the health probe.
"""

from __future__ import annotations

import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from .catalog import tables_exist
from .operators import serving

REQUIRED_TABLES = ("events",)


def get_sales_payload(spark: SparkSession, sf_dir: str) -> dict:
    """Chart payload for /api/sales (labels + two series), shaped like
    app.py:69-73."""
    if not tables_exist(spark, sf_dir, REQUIRED_TABLES):
        return {"labels": [], "quantity": [], "revenue": []}
    rows = serving.sales_by_hour(spark, sf_dir).collect()
    # hour is the canonical 'yyyy-MM-dd HH:mm:ss' string; the chart
    # label is its HH:MM slice (reference formats with strftime('%H:%M'),
    # app.py:71)
    return {
        "labels": [r["hour"][11:16] for r in rows],
        "quantity": [int(r["total_quantity"]) for r in rows],
        "revenue": [round(float(r["revenue"]), 2) for r in rows],
    }


def get_stock_payload(spark: SparkSession, sf_dir: str) -> dict:
    """Chart payload for /api/stock (app.py:102-107)."""
    if not tables_exist(spark, sf_dir, REQUIRED_TABLES):
        return {"labels": [], "incoming": [], "outgoing": []}
    rows = serving.stock_top5(spark, sf_dir).collect()
    return {
        "labels": [f"Product {r['user_id']}" for r in rows],
        "incoming": [float(r["incoming"]) for r in rows],
        "outgoing": [float(r["outgoing"]) for r in rows],
    }


def get_recent_payload(spark: SparkSession, sf_dir: str) -> dict:
    """Table payload for /api/recent (app.py:137-145)."""
    if not tables_exist(spark, sf_dir, REQUIRED_TABLES):
        return {"sales": []}
    rows = serving.recent_sales(spark, sf_dir).collect()
    return {
        "sales": [
            {
                "time": r["ts"],  # already 'yyyy-MM-dd HH:mm:ss' canonical string
                "product": f"Product {r['user_id']}",
                "quantity": 1,
                "total": float(r["value"]),
            }
            for r in rows
        ]
    }


def get_status_payload(spark: SparkSession, sf_dir: str) -> dict:
    """Health payload for /api/status (app.py:158-176)."""
    if not tables_exist(spark, sf_dir, REQUIRED_TABLES):
        return {"status": "initializing", "counts": {}}
    rows = serving.status_counts(spark, sf_dir).collect()
    return {
        "status": "ok",
        "counts": {r["event_type"]: int(r["row_count"]) for r in rows},
    }


ROUTES = {
    "/api/sales": get_sales_payload,
    "/api/stock": get_stock_payload,
    "/api/recent": get_recent_payload,
    "/api/status": get_status_payload,
}

# The dashboard page itself (reference: web-app/templates/index.html,
# served by Flask's render_template at app.py's index route; polls the
# API every 5 s per index.html:165). Ours is an original, dependency-free
# page (inline-SVG charts instead of the Chart.js CDN) over the same
# four endpoints.
_TEMPLATE_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "templates", "dashboard.html"
)


#: Ad-hoc SQL endpoint result cap (the dashboard contract is charts,
#: not bulk export; bigger extracts belong in a batch job).
SQL_ROW_CAP = 1000


def get_sql_payload(spark: SparkSession, sf_dir: str, sql_text: str) -> dict:
    """POST /api/sql -- run a ClickHouse-dialect query verbatim against
    the registered tables (the ad-hoc query path a reference user has
    against ClickHouse itself). Relative-time predicates anchor at the
    serving ANCHOR so results are reproducible over static fixtures;
    rows are capped at SQL_ROW_CAP."""
    from .catalog import register_views
    from .functions.clickhouse_dialect import run_clickhouse_sql

    register_views(spark, sf_dir)
    df = run_clickhouse_sql(spark, sql_text, anchor=serving.ANCHOR)
    rows = df.limit(SQL_ROW_CAP).collect()

    def jv(v):
        if v is None or isinstance(v, (bool, int, float, str)):
            return v
        return str(v)  # Decimal / datetime -> canonical strings

    return {
        "columns": df.columns,
        "rows": [[jv(v) for v in r] for r in rows],
    }


def get_dashboard_html() -> bytes:
    with open(_TEMPLATE_PATH, "rb") as f:
        return f.read()


def make_handler(spark: SparkSession, sf_dir: str):
    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib API name)
            if self.path in ("/", "/index.html"):
                body = get_dashboard_html()
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            fn = ROUTES.get(self.path)
            if fn is None:
                self.send_response(404)
                self.end_headers()
                self.wfile.write(b'{"error": "not found"}')
                return
            try:
                payload = fn(spark, sf_dir)
                body = json.dumps(payload).encode()
                self.send_response(200)
            except Exception as exc:  # graceful degradation, app.py:74-77
                body = json.dumps({"error": str(exc)}).encode()
                self.send_response(500)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):  # noqa: N802 (stdlib API name)
            if self.path != "/api/sql":
                self.send_response(404)
                self.end_headers()
                self.wfile.write(b'{"error": "not found"}')
                return
            length = int(self.headers.get("Content-Length", 0))
            sql_text = self.rfile.read(length).decode("utf-8", "replace")
            try:
                payload = get_sql_payload(spark, sf_dir, sql_text)
                body = json.dumps(payload).encode()
                self.send_response(200)
            except Exception as exc:  # bad SQL -> client error, not a crash
                # ParseException's text starts with a blank line
                first = next((ln for ln in str(exc).splitlines() if ln.strip()), type(exc).__name__)
                body = json.dumps({"error": first}).encode()
                self.send_response(400)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # quiet test output
            pass

    return Handler


def serve(spark: SparkSession, sf_dir: str, port: int = 8080) -> ThreadingHTTPServer:
    """Start the API server on a background thread; returns the server
    (call ``.shutdown()`` to stop)."""
    httpd = ThreadingHTTPServer(("127.0.0.1", port), make_handler(spark, sf_dir))
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    return httpd


if __name__ == "__main__":
    from .session import get_spark

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark_session = get_spark(app_name="serving-app")
    server = serve(spark_session, sf, port=int(os.environ.get("PORT", "8080")))
    print(f"serving on http://127.0.0.1:{server.server_address[1]}")
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        server.shutdown()
