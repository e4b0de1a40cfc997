"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import dashboard  # noqa: E402
import ingest  # noqa: E402
import loadgen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_printed_metric_names_and_units_match_benchmark_json():
    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.E2E_UNITS
    assert [w["name"] for w in s["workloads"]] == list(run.WORKLOADS)
    declared = set(dashboard.LAYER_KEYS) | set(ingest.LAYER_KEYS)
    declared |= {f"traced.{k}" for k in {**run.E2E_UNITS, **run.UNGATED_UNITS}}
    assert {m["name"] for m in s["per_layer"]} == declared


def test_self_time_subtracts_children_and_wrap_restores():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tracer = tracing.Tracer()
    traced = tracer.wrap(mod, "f", "f")
    root = tracer.open("root")
    assert mod.f(1) == 2 and traced is mod.f
    tracer.close(root)
    tracer.restore()
    assert mod.f is not traced
    child = next(s for s in tracer.spans if s.name == "f")
    assert child.parent == root.id and child.request == root.id
    # pin the timings: root 0..10 s, children 1..3 and 2..4 (overlapping)
    root.start, root.end, child.start, child.end = 0.0, 10.0, 1.0, 3.0
    tracer.spans.append(tracing.Span(99, "g", root.id, root.id, 2.0, 4.0))
    self_ms = tracer.self_ms()
    assert self_ms[root.id] == pytest.approx(7000.0)
    assert self_ms[child.id] == pytest.approx(2000.0)


@pytest.fixture()
def wrong_server():
    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib API name)
            body = json.dumps({"status": "ok", "counts": {"view": 1}}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    yield httpd.server_address[1]
    httpd.shutdown()
    httpd.server_close()
    thread.join(timeout=10)
    assert not thread.is_alive()


def test_planted_wrong_payload_counts_as_failure(wrong_server):
    req = {"key": "status", "route": "status", "method": "GET", "path": "/api/status"}
    good = {"status": {"status": "ok", "counts": {"view": 1}}}
    bad = {"status": {"status": "ok", "counts": {"view": 2}}}
    import time

    assert loadgen.execute(wrong_server, req, time.perf_counter(), good)["ok"]
    r = loadgen.execute(wrong_server, req, time.perf_counter(), bad)
    assert r["status"] == 200 and not r["ok"]

    work = dashboard.Dashboard(ctx=None)
    work.open, work.closed = {"requests": [r]}, {"requests": [], "wall_s": 1.0}
    assert work.attempted() == (1, 1)
    assert work.check()


def test_overhead_uses_the_open_loop_requests_only():
    def span(name, start, ms):
        return tracing.Span(0, name, None, 0, start, start + ms / 1000.0)

    # open loop (window 0..10 s): spans of 100..400 ms, each request's
    # service time 5 ms longer than its span
    opened = [span("route.sales", t, ms) for t, ms in ((1, 100), (3, 200), (5, 300), (7, 400))]
    requests = [{"route": "sales", "service_ms": s.ms + 5.0} for s in opened]
    # closed loop after the window: much longer spans, and one SQL span
    closed = [span("route.sales", 20 + t, 2000) for t in range(8)] + [span("route.sql", 6, 900)]
    overhead = dashboard.overhead_ms(opened + closed, requests, (0.0, 10.0))
    assert overhead >= 0
    assert overhead == pytest.approx(5.0)


def test_fixture_is_the_sf01_bench_fixture():
    import hashlib

    fixtures = os.path.join(HERE, "fixtures")
    with open(os.path.join(fixtures, "SHA256SUMS"), encoding="ascii") as fh:
        sums = dict(reversed(line.split()) for line in fh if line.strip())
    assert sorted(sums) == sorted(os.listdir(dashboard.FIXTURE_DIR))
    for name, digest in sums.items():
        with open(os.path.join(dashboard.FIXTURE_DIR, name), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == digest, name
