"""Dashboard load generator, run as its own process so its work never
competes with the server for the interpreter lock.

Reads a plan as JSON on stdin and writes one JSON result on stdout::

    python3 perfbench/loadgen.py < plan.json > result.json

The plan names the phase (``open`` or ``closed``) and holds the server
port, the number of connections, the expected payload of every request,
and either the open-loop schedule (offset in seconds, method, path,
body) or the closed-loop duration and mix. In the open loop a scheduler
hands each request to one of ``connections`` sender threads at its due
time, and its latency counts from that due time, so a stall also
delays the requests queued behind it. In the closed loop each sender
issues the mix back to back. Every response is compared with its
expected payload.
"""

from __future__ import annotations

import http.client
import json
import queue
import sys
import threading
import time

#: A response slower than the dashboard's poll period counts as failed.
DEADLINE_S = 5.0


def matches(body: bytes, expected) -> bool:
    try:
        return json.loads(body) == expected
    except ValueError:
        return False


def send(port: int, method: str, path: str, body: str | None) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        data = body.encode() if body is not None else None
        conn.request(method, path, body=data)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def execute(port: int, req: dict, due: float, expected: dict) -> dict:
    sent = time.perf_counter()
    try:
        status, body = send(port, req["method"], req["path"], req.get("body"))
    except OSError as exc:
        status, body = 0, str(exc).encode()
    done = time.perf_counter()
    ok = status == 200 and matches(body, expected[req["key"]])
    return {"key": req["key"], "route": req["route"], "status": status, "ok": ok,
            "late_ms": (sent - due) * 1000.0, "latency_ms": (done - due) * 1000.0,
            "service_ms": (done - sent) * 1000.0,
            "timely": done - due <= DEADLINE_S}


def open_loop(plan: dict) -> list[dict]:
    work: queue.Queue = queue.Queue()
    results: list[dict] = []
    lock = threading.Lock()

    def sender():
        while True:
            item = work.get()
            if item is None:
                return
            req, due = item
            r = execute(plan["port"], req, due, plan["expected"])
            with lock:
                results.append(r)

    threads = [threading.Thread(target=sender) for _ in range(plan["connections"])]
    for t in threads:
        t.start()
    t0 = time.perf_counter()
    for req in sorted(plan["schedule"], key=lambda r: r["at"]):
        due = t0 + req["at"]
        delay = due - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        work.put((req, due))
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()
    return results


def closed_loop(plan: dict) -> tuple[list[dict], float]:
    mix = plan["closed_mix"]
    results: list[dict] = []
    lock = threading.Lock()
    counter = iter(range(10**9))
    t0 = time.perf_counter()
    t_end = t0 + plan["closed_s"]

    def client():
        while True:
            with lock:
                i = next(counter)
            now = time.perf_counter()
            if now >= t_end:
                return
            r = execute(plan["port"], mix[i % len(mix)], now, plan["expected"])
            with lock:
                results.append(r)

    threads = [threading.Thread(target=client) for _ in range(plan["connections"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results, time.perf_counter() - t0


def main() -> None:
    plan = json.load(sys.stdin)
    if plan["phase"] == "open":
        json.dump({"requests": open_loop(plan)}, sys.stdout)
    else:
        requests, wall = closed_loop(plan)
        json.dump({"requests": requests, "wall_s": wall}, sys.stdout)


if __name__ == "__main__":
    main()
