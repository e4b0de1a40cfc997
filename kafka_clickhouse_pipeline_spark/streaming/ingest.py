"""Pipeline wiring: source -> MV transform -> columnar sink, with the
reference's attach/detach lifecycle.

The reference creates Kafka tables DETACHed (paused) and the user
ATTACHes them to start consumption (generate_data.py:273-301,
README.md:64-70). Spark mapping (SURVEY.md D4/D5): a defined-but-not-
started StreamingQuery; ``attach()`` = start, ``detach()`` = stop;
resume is exact because offsets live in the checkpoint.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..schemas import SALES_RAW_SCHEMA, WAREHOUSE_RAW_SCHEMA
from ..sources.kafka import read_json_lines_stream, read_kafka_json_stream
from .commit import staged_foreach_batch
from .sink import idempotent_batch_writer, write_batch_to_table
from .transforms import parse_sales, parse_stock

#: Superset schema for the multiplexed variant (SURVEY.md S2 note: one
#: stream over both topics, demuxed by a discriminator column). The two
#: payloads share their first six fields; the rest are nullable
#: per-kind extras.
MERGED_RAW_SCHEMA = StructType(
    list(SALES_RAW_SCHEMA.fields)
    + [f for f in WAREHOUSE_RAW_SCHEMA.fields if f.name not in SALES_RAW_SCHEMA.names]
)


@dataclass
class StreamDefinition:
    """One reference materialized view: named source->transform->sink.
    ``transform`` must be stateless: it is applied to each micro-batch.
    ``foreach_batch``, when set, replaces the standard table sink with a
    custom per-batch router (used by the multiplexed pipeline)."""

    name: str
    source: Callable[[SparkSession], DataFrame]
    transform: Callable[[DataFrame], DataFrame]
    table_path: str
    checkpoint: str
    foreach_batch: Callable[[DataFrame, int], None] | None = None


@dataclass
class PipelineManager:
    """Holds stream definitions; created 'detached' like the reference's
    paused Kafka tables. ``attach``/``detach`` toggle consumption."""

    spark: SparkSession
    definitions: dict[str, StreamDefinition] = field(default_factory=dict)
    _queries: dict[str, StreamingQuery] = field(default_factory=dict)

    def register(self, definition: StreamDefinition) -> None:
        self.definitions[definition.name] = definition

    def attach(self, name: str, trigger_available_now: bool = False) -> StreamingQuery:
        """Start consumption (ATTACH TABLE analog, README.md:68-69).

        The transform runs on each micro-batch, inside the sink, not in
        the streaming plan: the batch plan folds its
        ``processing_time`` into a literal that codegen does not inline
        (``transforms.with_processing_time``), so warm batches reuse
        compiled code."""
        d = self.definitions[name]
        sink = d.foreach_batch or idempotent_batch_writer(d.table_path)

        def write(batch_df: DataFrame, batch_id: int) -> None:
            sink(d.transform(batch_df), batch_id)

        writer = (
            d.source(self.spark).writeStream.foreachBatch(write)
            .option("checkpointLocation", d.checkpoint)
            .queryName(name)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        self._queries[name] = q
        return q

    def detach(self, name: str) -> None:
        """Pause consumption (DETACH TABLE analog); offsets stay in the
        checkpoint so re-attach resumes exactly."""
        q = self._queries.pop(name, None)
        if q is not None:
            q.stop()

    def progress(self, name: str) -> dict:
        """Operational metrics for a running stream (the /api/status
        analog for the ingest side) from its last progress event:
        rows/sec, batch id, watermark, the trigger's ``durationMs``
        phases (``addBatch``, ``getBatch``, ``walCommit``,
        ``triggerExecution``, ...) and each state operator's row and
        memory counts (none for the stateless MV streams)."""
        q = self._queries.get(name)
        if q is None or q.lastProgress is None:
            return {"name": name, "state": "detached"}
        p = q.lastProgress
        return {
            "name": name,
            "state": "active" if q.isActive else "stopped",
            "batch_id": p.get("batchId"),
            "input_rows_per_second": p.get("inputRowsPerSecond"),
            "processed_rows_per_second": p.get("processedRowsPerSecond"),
            "num_input_rows": p.get("numInputRows"),
            "watermark": (p.get("eventTime") or {}).get("watermark"),
            "duration_ms": dict(p.get("durationMs") or {}),
            "state_operators": [
                {
                    "num_rows_total": op.get("numRowsTotal"),
                    "memory_used_bytes": op.get("memoryUsedBytes"),
                }
                for op in p.get("stateOperators") or []
            ],
        }

    def detach_all(self) -> None:
        for name in list(self._queries):
            self.detach(name)


def _mv_pipeline(
    spark: SparkSession,
    read_sales: Callable[[SparkSession], DataFrame],
    read_stock: Callable[[SparkSession], DataFrame],
    sales_path: str,
    stock_path: str,
    checkpoint_root: str,
) -> PipelineManager:
    """Both reference MVs over the given raw-stream sources:
    sales_mv/stock_movements_mv -> month-partitioned tables."""
    mgr = PipelineManager(spark)
    for name, source, transform, path in (
        ("sales_mv", read_sales, parse_sales, sales_path),
        ("stock_movements_mv", read_stock, parse_stock, stock_path),
    ):
        mgr.register(
            StreamDefinition(name, source, transform, path, f"{checkpoint_root}/{name}")
        )
    return mgr


def kafka_pipeline(
    spark: SparkSession,
    brokers: str,
    sales_path: str,
    stock_path: str,
    checkpoint_root: str,
) -> PipelineManager:
    """The full reference topology against real Kafka: topics
    ``sales``/``warehouse`` -> sales_mv/stock_movements_mv -> tables."""
    return _mv_pipeline(
        spark,
        lambda s: read_kafka_json_stream(s, brokers, "sales", SALES_RAW_SCHEMA),
        lambda s: read_kafka_json_stream(s, brokers, "warehouse", WAREHOUSE_RAW_SCHEMA),
        sales_path, stock_path, checkpoint_root,
    )


def multiplexed_file_pipeline(
    spark: SparkSession,
    events_dir: str,
    sales_path: str,
    stock_path: str,
    checkpoint_root: str,
) -> PipelineManager:
    """One stream, two sinks: both event kinds arrive interleaved (the
    Kafka variant subscribes to both topics at once and demuxes on the
    topic column; the file stand-in demuxes on event_type, which the
    payloads carry). Each micro-batch is routed to both MV transforms
    inside a single foreachBatch -- one checkpoint, half the consumer
    overhead of two independent streams. One staged commit, marked on
    the sales table, publishes both, so a replayed batch is a no-op.
    The batch is persisted for its two writes, so it is read and parsed
    once.
    """
    mgr = PipelineManager(spark)

    def _route(batch_df: DataFrame, batch_id: int, staging: dict) -> None:
        # each table is written by its own job; persisted, the batch's
        # files are read and its lines parsed by the first job only
        batch_df.persist()
        try:
            for kind, schema, parse, path in (
                ("sale", SALES_RAW_SCHEMA, parse_sales, sales_path),
                ("stock_movement", WAREHOUSE_RAW_SCHEMA, parse_stock, stock_path),
            ):
                events = batch_df.filter(F.col("event_type") == kind).select(*schema.names)
                write_batch_to_table(parse(events), staging[path])
        finally:
            batch_df.unpersist()

    mgr.register(
        StreamDefinition(
            name="multiplex_mv",
            source=lambda s: read_json_lines_stream(s, events_dir, MERGED_RAW_SCHEMA),
            transform=lambda df: df,
            table_path=sales_path,
            checkpoint=f"{checkpoint_root}/multiplex_mv",
            foreach_batch=staged_foreach_batch(sales_path, [sales_path, stock_path], _route),
        )
    )
    return mgr


def file_pipeline(
    spark: SparkSession,
    sales_json_dir: str,
    stock_json_dir: str,
    sales_path: str,
    stock_path: str,
    checkpoint_root: str,
) -> PipelineManager:
    """Same topology with JSON-lines file sources standing in for Kafka
    (offline tests; identical parse/transform/sink path)."""
    return _mv_pipeline(
        spark,
        lambda s: read_json_lines_stream(s, sales_json_dir, SALES_RAW_SCHEMA),
        lambda s: read_json_lines_stream(s, stock_json_dir, WAREHOUSE_RAW_SCHEMA),
        sales_path, stock_path, checkpoint_root,
    )
