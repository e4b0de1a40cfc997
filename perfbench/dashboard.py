"""``dashboard`` workload: ``serving_app.serve()`` over the sf0.1 bench
fixture (a copy of it ships in ``fixtures/sf0.1``), driven over HTTP by
``loadgen.py`` in a separate process.

Open loop: DASHBOARDS simulated dashboards each poll the four chart
routes every POLL_S seconds, evenly staggered, plus one ad-hoc
ClickHouse-dialect ``POST /api/sql`` from ``SQL`` every SQL_EVERY polls.
Closed loop, for the run length: ``nproc`` connections send the same
mix back to back. Expected payloads come from DuckDB over the same
parquet files.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import tracing
from kafka_clickhouse_pipeline_spark import catalog, serving_app
from kafka_clickhouse_pipeline_spark.functions import clickhouse_dialect
from kafka_clickhouse_pipeline_spark.operators import serving

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.1")
DASHBOARDS, POLL_S = 3, 5.0
#: one ad-hoc SQL query per this many poll periods
SQL_EVERY = 2
CHARTS = ("sales", "stock", "recent", "status")
LAYER_KEYS = (
    tuple(f"serving_app.payload_ms.{r}" for r in CHARTS + ("sql",))
    + ("serving_app.overhead_ms", "catalog.load_table_ms", "catalog.load_table_calls",
       "catalog.register_views_ms", "clickhouse_dialect.translate_ms")
    + tuple(f"spark.{k}.{r}" for k in ("jobs", "tasks") for r in CHARTS + ("sql",))
    + ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
       "executor.run_ms", "executor.cpu_ms", "loadgen.late_p50_ms")
)

#: Ad-hoc ClickHouse-dialect queries (sent to /api/sql) with their
#: DuckDB twins. Each distinct query costs a cold compile in warm-up,
#: so the list is kept short.
SQL: tuple[tuple[str, str], ...] = (
    ("SELECT toStartOfDay(ts) AS day, countIf(event_type = 'purchase') AS purchases, "
     "uniqExact(user_id) AS users "
     "FROM events WHERE ts >= now() - INTERVAL 7 DAY AND ts < now() GROUP BY day ORDER BY day",
     "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, "
     "count(*) FILTER (WHERE event_type = 'purchase') AS purchases, count(DISTINCT user_id) AS users "
     "FROM events WHERE ts >= TIMESTAMP '{anchor}' - INTERVAL 7 DAY AND ts < TIMESTAMP '{anchor}' "
     "GROUP BY day ORDER BY day"),
)


def _jv(v):
    """The JSON rendering ``serving_app.get_sql_payload`` applies."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def expected_payloads(sf_dir: str) -> dict:
    """Every route's payload, computed by DuckDB from the parquet files
    and shaped the way ``serving_app`` shapes Spark's rows."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")

    def rows(sql):
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return [dict(zip(cols, r)) for r in res.fetchall()], cols

    sales, _ = rows(serving.SERVING_ORACLES["sales_by_hour"])
    stock, _ = rows(serving.SERVING_ORACLES["stock_top5"])
    recent, _ = rows(serving.SERVING_ORACLES["recent_sales"])
    status, _ = rows(serving.SERVING_ORACLES["status_counts"])
    out = {
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
    for i, (_, twin) in enumerate(SQL):
        data, cols = rows(twin.format(anchor=serving.ANCHOR))
        out[f"sql{i}"] = {"columns": cols, "rows": [[_jv(r[c]) for c in cols] for r in data]}
    con.close()
    return out


def _chart(route: str) -> dict:
    return {"key": route, "route": route, "method": "GET", "path": f"/api/{route}"}


def _sql(i: int) -> dict:
    return {"key": f"sql{i}", "route": "sql", "method": "POST", "path": "/api/sql", "body": SQL[i][0]}


def schedule(seed: int, seconds: float) -> list[dict]:
    """Open-loop arrivals: each dashboard polls all four charts every
    POLL_S, round(seconds / POLL_S) + 1 times, and one ad-hoc SQL query
    arrives every SQL_EVERY poll periods. Start times are evenly
    staggered over a poll period behind a phase drawn from the seed,
    so the arrival pattern, and with it the overlap between requests,
    is the same for every seed; the request count depends on the run
    length only."""
    phase = random.Random(seed).random()
    polls = round(seconds / POLL_S) + 1
    slot = POLL_S / DASHBOARDS
    out = []
    for d in range(DASHBOARDS):
        start = (d + phase) * slot
        out += [dict(_chart(c), at=start + k * POLL_S) for k in range(polls) for c in CHARTS]
    start = (phase + 0.5) * slot
    out += [dict(_sql(k % len(SQL)), at=start + k * POLL_S) for k in range(0, polls, SQL_EVERY)]
    return out


def closed_mix() -> list[dict]:
    """The open loop's mix as one fixed cycle: SQL_EVERY polls of every
    dashboard's four charts, then one SQL query."""
    return [_chart(c) for _ in range(DASHBOARDS * SQL_EVERY) for c in CHARTS] + [_sql(0)]


def in_window(spans: list, window: tuple[float, float]) -> list:
    return [s for s in spans if window[0] <= s.start <= window[1]]


def overhead_ms(route_spans: list, requests: list[dict], window: tuple[float, float]) -> float:
    """Median client service time of the open loop's chart requests
    minus the median chart route span of the same requests (the spans
    that started inside the open loop's ``window``): HTTP, JSON and
    handler wait. Every request's service time covers its own span, so
    over the same requests the difference is never negative."""
    payload = [s.ms for s in in_window(route_spans, window) if s.name != "route.sql"]
    service = [r["service_ms"] for r in requests if r["route"] != "sql"]
    return statistics.median(service) - statistics.median(payload)


class Dashboard:
    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self) -> None:
        self.sf_dir = FIXTURE_DIR
        self.server = serving_app.serve(self.ctx.spark, self.sf_dir, port=0)
        self.port = self.server.server_address[1]
        self.expected = expected_payloads(self.sf_dir)
        # warm the reader, codegen and HTTP paths once per request kind,
        # all at once so the cold compiles share the cores
        with ThreadPoolExecutor(len(CHARTS) + len(SQL)) as pool:
            for f in [pool.submit(self._get, _chart(c)) for c in CHARTS] + [
                    pool.submit(self._get, _sql(i)) for i in range(len(SQL))]:
                f.result()

    def _get(self, req: dict) -> bytes:
        data = req["body"].encode() if req["method"] == "POST" else None
        with urllib.request.urlopen(f"http://127.0.0.1:{self.port}{req['path']}", data=data,
                                    timeout=120) as r:
            return r.read()

    def run(self, seconds: float, tracer: tracing.Tracer | None) -> None:
        """The open loop, whose fixed request list is what
        ``cpu_ms_per_op`` is measured over, then the closed loop."""
        base = {"port": self.port, "connections": self.ctx.nproc, "expected": self.expected}
        meter = self.ctx.cpu_meter()
        t0 = time.perf_counter()
        self.open = self._load(dict(base, phase="open", schedule=schedule(self.ctx.seed, seconds)))
        self.open_window = (t0, time.perf_counter())
        self.cpu_s, self.jit_s = meter.seconds()
        self.closed = self._load(dict(base, phase="closed", closed_mix=closed_mix(), closed_s=seconds))

    def _load(self, plan: dict) -> dict:
        proc = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py")],
                              input=json.dumps(plan), capture_output=True, text=True, timeout=600)
        if proc.returncode != 0:
            raise RuntimeError(f"load generator failed: {proc.stderr[-2000:]}")
        return json.loads(proc.stdout)

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()

    def check(self) -> list[str]:
        return [f"{r['key']}: status {r['status']} or payload mismatch"
                for r in self.open["requests"] + self.closed["requests"] if not r["ok"]]

    def attempted(self) -> tuple[int, int]:
        reqs = self.open["requests"] + self.closed["requests"]
        return len(reqs), sum(not (r["ok"] and r["timely"]) for r in reqs)

    def samples(self) -> dict:
        return {"open_ms": [round(r["latency_ms"], 1) for r in self.open["requests"]],
                "closed_requests": len(self.closed["requests"]),
                "closed_wall_s": round(self.closed["wall_s"], 3)}

    def metrics(self) -> dict[str, float]:
        charts = [r["latency_ms"] for r in self.open["requests"] if r["route"] != "sql"]
        n = len(self.open["requests"])
        return {
            "p50_ms": statistics.median(charts),
            "throughput_per_s": len(self.closed["requests"]) / self.closed["wall_s"],
            "cpu_ms_per_op": self.cpu_s * 1000.0 / n,
            "jit_cpu_ms_per_op": self.jit_s * 1000.0 / n,
        }

    def traced_calls(self, tracer: tracing.Tracer) -> None:
        for path in list(serving_app.ROUTES):
            tracer.wrap(serving_app.ROUTES, path, f"route.{path.rsplit('/', 1)[1]}", job_group=True)
        tracer.wrap(serving_app, "get_sql_payload", "route.sql", job_group=True)
        for fn in ("sales_by_hour", "stock_top5", "recent_sales", "status_counts"):
            tracer.wrap(serving, fn, f"operators.serving.{fn}", keep_result=True)
        tracer.wrap(catalog, "load_table", "catalog.load_table")
        tracer.wrap(catalog, "register_views", "catalog.register_views")
        tracer.wrap(clickhouse_dialect, "translate", "clickhouse_dialect.translate")

    def layers(self, tracer: tracing.Tracer, ledger: dict) -> dict[str, float]:
        out = {}
        roots = [s for s in tracer.spans if s.name.startswith("route.")]
        opened = in_window(roots, self.open_window)
        total = dict.fromkeys(tracing.LEDGER_KEYS, 0.0)
        for route in CHARTS + ("sql",):
            out[f"serving_app.payload_ms.{route}"] = statistics.median(
                [s.ms for s in opened if s.name == f"route.{route}"])
            spans = [s for s in roots if s.name == f"route.{route}"]
            led = tracing.sum_groups(ledger, [s.group for s in spans])
            out[f"spark.jobs.{route}"] = led["jobs"] / len(spans)
            out[f"spark.tasks.{route}"] = led["tasks"] / len(spans)
            for k in total:
                total[k] += led[k]
        out["serving_app.overhead_ms"] = overhead_ms(roots, self.open["requests"], self.open_window)
        loads = tracer.named("catalog.load_table")
        out["catalog.load_table_ms"] = statistics.median([s.ms for s in loads])
        out["catalog.load_table_calls"] = len(loads) / len(roots)
        out["catalog.register_views_ms"] = statistics.median([s.ms for s in tracer.named("catalog.register_views")])
        out["clickhouse_dialect.translate_ms"] = statistics.median(
            [s.ms for s in tracer.named("clickhouse_dialect.translate")])
        phases = [tracing.catalyst_phases(s.result) for s in tracer.spans if s.result is not None]
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_ms"] = statistics.median([p[phase] for p in phases])
        out["executor.run_ms"] = total["run_ms"] / len(roots)
        out["executor.cpu_ms"] = total["cpu_ms"] / len(roots)
        out["loadgen.late_p50_ms"] = statistics.median([r["late_ms"] for r in self.open["requests"]])
        return out
