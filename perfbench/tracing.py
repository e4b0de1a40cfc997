"""In-memory span tracing around the engine's public functions, plus a
Spark status-REST ledger that attributes jobs, tasks and executor
metrics to spans.

Spans are recorded from the benchmark's side of each call: ``wrap``
swaps a public function for a timing wrapper wherever the engine's
modules reference it, and ``restore`` puts the originals back. Nothing
in the engine changes. Spans stay in memory and are written once, by
``dump``, after the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
import urllib.request
from dataclasses import dataclass, fields
from datetime import datetime, timezone

PACKAGE = "kafka_clickhouse_pipeline_spark"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int  # id of the root span of the same request
    start: float
    end: float = 0.0
    group: str | None = None  # Spark job group the span's jobs carry
    result: object = None  # return value kept for post-run reads; never dumped

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Collects spans from any thread. A span opened while another is
    open on the same thread becomes its child and shares its request
    id; a root span may claim a Spark job group, so every job launched
    under it can be attributed after the run."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, job_group: bool = False) -> Span:
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        span = Span(sid, name, parent.id if parent else None,
                    parent.request if parent else sid, time.perf_counter())
        if job_group and self.spark is not None:
            span.group = f"pb-{sid}"
            self.spark.sparkContext.setJobGroup(span.group, name)
        elif parent is not None:
            span.group = parent.group
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.remove(span)
        parent_group = stack[-1].group if stack else None
        if self.spark is not None and span.group != parent_group:
            if parent_group:
                self.spark.sparkContext.setJobGroup(parent_group, stack[-1].name)
            else:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        with self._lock:
            self.spans.append(span)

    # -- wrapping public functions -------------------------------------
    def wrap(self, owner, attr: str, name: str, job_group: bool = False, keep_result: bool = False):
        """Replace ``owner.attr`` (a module, class or dict) with a
        traced wrapper, and re-point every module-level reference to
        the same function inside the engine's package (``from x import
        f`` copies), so callers anywhere in the engine hit the wrapper.
        ``keep_result`` keeps the return value on the span, e.g. the
        DataFrame whose Catalyst phases are read after the run."""
        getter = owner.get if isinstance(owner, dict) else functools.partial(getattr, owner)
        original = getter(attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            s = self.open(name, job_group)
            try:
                result = original(*args, **kwargs)
                if keep_result:
                    s.result = result
                return result
            finally:
                self.close(s)

        self._set(owner, attr, traced)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(PACKAGE) and mod is not owner and getattr(mod, attr, None) is original:
                self._set(mod, attr, traced)
        return traced

    def _set(self, owner, attr: str, value) -> None:
        if isinstance(owner, dict):
            self._patched.append((owner, attr, owner[attr]))
            owner[attr] = value
        else:
            self._patched.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, value)

    def restore(self) -> None:
        for owner, attr, value in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = value
            else:
                setattr(owner, attr, value)
        self._patched.clear()

    # -- derived views -------------------------------------------------
    def self_ms(self) -> dict[int, float]:
        """Self time of each span: its duration minus the part of its
        interval covered by its children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.id] = (s.end - s.start - covered) * 1000.0
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        self_ms = self.self_ms()
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = {f.name: getattr(s, f.name) for f in fields(s) if f.name != "result"}
                rec["self_ms"] = round(self_ms[s.id], 3)
                fh.write(json.dumps(rec, default=str) + "\n")


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning milliseconds of a DataFrame's
    query execution, from Catalyst's own ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# -- status REST ledger ------------------------------------------------
LEDGER_KEYS = ("jobs", "stages", "tasks", "run_ms", "cpu_ms",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _epoch(stamp: str) -> float:
    """REST time stamps read like ``2026-01-31T12:00:00.123GMT``."""
    dt = datetime.strptime(stamp.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def rest_ledger(spark, since: float, until: float,
                settle_s: float = 10.0) -> dict[str | None, dict[str, float]]:
    """One read of the status REST API after the run, over the jobs
    submitted between epoch seconds ``since`` and ``until``: per job group,
    the number of jobs, stages and tasks, executor run and CPU time,
    shuffle bytes and spill. A stage counts toward the first job that
    ran it; skipped stages count nowhere."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + settle_s
    jobs = _get(f"{base}/jobs")
    # the UI store is fed asynchronously; wait until no job is running
    while any(j["status"] == "RUNNING" for j in jobs) and time.time() < deadline:
        time.sleep(0.2)
        jobs = _get(f"{base}/jobs")
    jobs = [j for j in jobs if since - 0.001 <= _epoch(j["submissionTime"]) <= until]
    stages = {(s["stageId"]): s for s in _get(f"{base}/stages") if s["status"] == "COMPLETE"}
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    out: dict[str | None, dict[str, float]] = {}
    for j in jobs:
        row = out.setdefault(j.get("jobGroup"), dict.fromkeys(LEDGER_KEYS, 0.0))
        row["jobs"] += 1
        for sid in j["stageIds"]:
            st = stages.get(sid)
            if st is None or owner[sid] != j["jobId"]:
                continue
            row["stages"] += 1
            row["tasks"] += st["numCompleteTasks"]
            row["run_ms"] += st["executorRunTime"]
            row["cpu_ms"] += st["executorCpuTime"] / 1e6
            row["shuffle_read_bytes"] += st["shuffleReadBytes"]
            row["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            row["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    return out


def sum_groups(ledger: dict, groups) -> dict[str, float]:
    total = dict.fromkeys(LEDGER_KEYS, 0.0)
    for g in groups:
        for k, v in ledger.get(g, {}).items():
            total[k] += v
    return total
