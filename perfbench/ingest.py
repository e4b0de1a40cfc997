"""``ingest`` workload: both materialized-view streams drain a JSON-lines
backlog through ``PipelineManager`` with ``availableNow``, a few files
per micro-batch, into fresh tables and checkpoints each drain.

The backlog is written once per run by ``gen.write_event_backlog``
(70% sales, 30% warehouse) with a seeded ~1% of lines malformed or
missing ``price``. Drains repeat until the run's time is up, at least
MIN_DRAINS times; every drain's landed rows and exact decimal
``total`` sum are checked after the timed loop.
"""

from __future__ import annotations

import os
import statistics
import time
from decimal import Decimal

import pyarrow.parquet as pq

import gen
import tracing
from kafka_clickhouse_pipeline_spark.schemas import SALES_RAW_SCHEMA, WAREHOUSE_RAW_SCHEMA
from kafka_clickhouse_pipeline_spark.sources.kafka import parse_json_payload, read_json_lines_stream
from kafka_clickhouse_pipeline_spark.streaming import ingest as pipeline
from kafka_clickhouse_pipeline_spark.streaming import sink, transforms

N_EVENTS = 20_000
#: files per topic and files per trigger: 4 micro-batches per stream,
#: so the fixed cost of each batch is a large share of a drain
SALES_FILES, STOCK_FILES = 8, 4
SALES_PER_TRIGGER, STOCK_PER_TRIGGER = 2, 1
#: drains measured per run, at least; metrics are medians over drains
MIN_DRAINS = 3
PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets",
          "addBatch", "triggerExecution")
LAYER_KEYS = tuple(f"streaming.{p}_ms" for p in PHASES) + (
    "streaming.batches", "streaming.rows_per_batch",
    "sources.parse_json_ms", "transforms.parse_sales_ms", "transforms.parse_stock_ms",
    "sink.prepare_batch_ms", "sink.files_written", "sink.bytes_per_event",
    "sink.shuffle_write_bytes", "ingest.rows_dropped",
)


class Ingest:
    def __init__(self, ctx):
        self.ctx = ctx
        self.drains: list[dict] = []

    def setup(self) -> None:
        self.sales_dir, self.stock_dir = gen.write_event_backlog(
            os.path.join(self.ctx.out, "backlog"), N_EVENTS, self.ctx.seed, SALES_FILES, STOCK_FILES)
        self._drain("warmup")  # JIT, codegen and the file-source path

    def _drain(self, tag: str) -> dict:
        root = os.path.join(self.ctx.out, f"drain-{tag}")
        mgr = pipeline.PipelineManager(self.ctx.spark)
        for name, src, schema, k, fn in (
            ("sales_mv", self.sales_dir, SALES_RAW_SCHEMA, SALES_PER_TRIGGER, "parse_sales"),
            ("stock_movements_mv", self.stock_dir, WAREHOUSE_RAW_SCHEMA, STOCK_PER_TRIGGER, "parse_stock"),
        ):
            mgr.register(pipeline.StreamDefinition(
                name=name,
                source=lambda s, src=src, schema=schema, k=k: read_json_lines_stream(
                    s, src, schema, max_files_per_trigger=k),
                # looked up per call, so a traced wrapper is seen
                transform=lambda df, fn=fn: getattr(transforms, fn)(df),
                table_path=os.path.join(root, name),
                checkpoint=os.path.join(root, "_checkpoints", name),
            ))
        meter = self.ctx.cpu_meter()
        t0 = time.perf_counter()
        queries = [mgr.attach(n, trigger_available_now=True) for n in mgr.definitions]
        for q in queries:
            q.awaitTermination()
        wall = time.perf_counter() - t0
        cpu, jit = meter.seconds()
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"stream {q.name} failed: {q.exception()}")
        progress = [p for q in queries for p in q.recentProgress if p["numInputRows"] > 0]
        return {"wall": wall, "cpu": cpu, "jit": jit, "progress": progress,
                "tables": [d.table_path for d in mgr.definitions.values()]}

    def run(self, seconds: float, tracer: tracing.Tracer | None) -> None:
        t_end = time.perf_counter() + seconds
        while len(self.drains) < MIN_DRAINS or time.perf_counter() < t_end:
            self.drains.append(self._drain(str(len(self.drains))))

    def close(self) -> None:
        pass

    def check(self) -> list[str]:
        """Every drain must land exactly the valid rows, with the exact
        decimal ``total`` sum, and drop exactly the corrupted lines. The
        tables are read back with pyarrow, not with the engine."""
        exp = gen.expected_landing(self.sales_dir, self.stock_dir)
        problems = []
        for i, d in enumerate(self.drains):
            sales_path, stock_path = d["tables"]
            totals = pq.read_table(sales_path, columns=["total"]).column("total")
            n_sales, n_stock = len(totals), pq.read_table(stock_path, columns=["event_id"]).num_rows
            total = sum(totals.to_pylist(), Decimal(0))
            d["landed"] = n_sales + n_stock
            d["read"] = sum(p["numInputRows"] for p in d["progress"])
            d["ok"] = (n_sales == exp["sales_rows"] and total == exp["sales_total"]
                       and n_stock == exp["stock_rows"] and d["read"] - d["landed"] == exp["dropped"])
            if not d["ok"]:
                problems.append(
                    f"drain {i}: landed sales={n_sales} total={total} stock={n_stock} "
                    f"dropped={d['read'] - d['landed']}, expected {exp}")
        return problems

    def attempted(self) -> tuple[int, int]:
        return len(self.drains), sum(not d["ok"] for d in self.drains)

    def samples(self) -> dict:
        return {"drain_s": [round(d["wall"], 3) for d in self.drains],
                "drain_cpu_s": [round(d["cpu"], 3) for d in self.drains],
                "drain_jit_s": [round(d["jit"], 3) for d in self.drains],
                "batch_ms": [[p["durationMs"]["triggerExecution"] for p in d["progress"]]
                             for d in self.drains]}

    def metrics(self) -> dict[str, float]:
        batch_ms = [p["durationMs"]["triggerExecution"] for d in self.drains for p in d["progress"]]
        def per_k_events(key):
            return statistics.median([d[key] * 1e6 / d["landed"] for d in self.drains])

        return {
            "p50_ms": statistics.median(batch_ms),
            "throughput_per_s": statistics.median([d["landed"] / d["wall"] for d in self.drains]),
            "cpu_ms_per_op": per_k_events("cpu"),
            "jit_cpu_ms_per_op": per_k_events("jit"),
        }

    def traced_calls(self, tracer: tracing.Tracer) -> None:
        tracer.wrap(pipeline.PipelineManager, "attach", "ingest.attach")
        tracer.wrap(transforms, "parse_sales", "transforms.parse_sales")
        tracer.wrap(transforms, "parse_stock", "transforms.parse_stock")
        tracer.wrap(sink, "prepare_batch", "sink.prepare_batch")

    def batch_pass(self) -> dict[str, float]:
        """Time the parse layers alone: batch reads of the same files
        into a no-op sink, parsing only (``sources.parse_json_ms``, both
        topics) and parsing plus each view's transform
        (``transforms.parse_*_ms``, one topic each)."""
        spark = self.ctx.spark

        def timed(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return (time.perf_counter() - t0) * 1000.0

        out = {"sources.parse_json_ms": 0.0}
        for d, schema, fn, key in (
            (self.sales_dir, SALES_RAW_SCHEMA, transforms.parse_sales, "transforms.parse_sales_ms"),
            (self.stock_dir, WAREHOUSE_RAW_SCHEMA, transforms.parse_stock, "transforms.parse_stock_ms"),
        ):
            out["sources.parse_json_ms"] += timed(parse_json_payload(spark.read.text(d), schema))
            out[key] = timed(fn(parse_json_payload(spark.read.text(d), schema)))
        return out

    def layers(self, tracer: tracing.Tracer, ledger: dict) -> dict[str, float]:
        n = len(self.drains)
        out = {}
        for p in PHASES:
            out[f"streaming.{p}_ms"] = statistics.median(
                [sum(pr["durationMs"].get(p, 0) for pr in d["progress"]) for d in self.drains])
        out["streaming.batches"] = statistics.median([len(d["progress"]) for d in self.drains])
        out["streaming.rows_per_batch"] = statistics.median(
            [pr["numInputRows"] for d in self.drains for pr in d["progress"]])
        out.update(self.batch_pass())
        out["sink.prepare_batch_ms"] = sum(s.ms for s in tracer.named("sink.prepare_batch")) / n
        files = size = 0
        for d in self.drains:
            for table in d["tables"]:
                for dirpath, _, names in os.walk(table):
                    for f in names:
                        if f.endswith(".parquet"):
                            files += 1
                            size += os.path.getsize(os.path.join(dirpath, f))
        landed = sum(d["landed"] for d in self.drains)
        out["sink.files_written"] = files / n
        out["sink.bytes_per_event"] = size / landed
        out["sink.shuffle_write_bytes"] = sum(v["shuffle_write_bytes"] for v in ledger.values()) / n
        out["ingest.rows_dropped"] = statistics.median([d["read"] - d["landed"] for d in self.drains])
        return out
