"""Kafka JSON sources -- Spark re-expression of the reference's
Kafka-engine tables (S1/S2, generate_data.py:96-139) and JSON producer
sink (S4, generate_data.py:348-363).

Broken-message tolerance (S3, ``kafka_skip_broken_messages = 1``,
generate_data.py:67) maps to PERMISSIVE ``from_json``: malformed
payloads parse to null structs and are dropped, never raised.

Offset management: the reference uses named consumer groups
(``clickhouse_sales_consumer`` generate_data.py:115); Spark owns
offsets in the checkpoint directory, which is strictly stronger
(exactly-once into a file sink vs at-least-once).

At scale: one Kafka partition maps to one Spark input partition; the
transform is stateless so throughput scales with
``minPartitions``/topic partition count, no shuffle anywhere.

Deployment note: the Kafka source/sink needs the connector package on
the session classpath (``--packages
org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>``). The
offline test environment ships no broker or connector, so tests
exercise the identical parse/transform/sink path through the
JSON-lines file stand-in (``read_json_lines_stream``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_kafka_json_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    schema: StructType,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """readStream(kafka) -> parsed, typed columns.

    Returns one column per schema field (the parsed payload), matching
    the Kafka-engine table's schema-on-read contract
    (generate_data.py:97-110). Malformed JSON rows are dropped (S3).
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
        .load()
    )
    return parse_json_payload(raw.select(F.col("value").cast("string")), schema)


def parse_json_payload(df: DataFrame, schema: StructType) -> DataFrame:
    """``value: string`` -> typed columns via PERMISSIVE from_json with
    an explicit corrupt-record column; malformed payloads are dropped
    (kafka_skip_broken_messages analog, generate_data.py:67).

    The corrupt-record column matters: a malformed-but-brace-prefixed
    payload (``{not json``) parses to an all-NULL struct, not a NULL
    struct, so an ``isNotNull`` filter alone would let it through as a
    ghost row. With columnNameOfCorruptRecord the parser tags exactly
    the rows ClickHouse's skip setting would discard, while valid JSON
    with missing fields still lands with NULLs (the MV layer's
    ``price IS NOT NULL`` then applies downstream, matching the
    reference's layering).

    Each line is parsed once: the struct comes out of a one-element
    ``explode``, which the optimizer cannot push the filter below. Over
    a plain projection ``PushPredicateThroughNonJoin`` would inline
    ``from_json`` into the filter and parse each line three times, all
    outside whole-stage codegen (``JsonToStructs`` is
    ``CodegenFallback``)."""
    from pyspark.sql.types import StringType, StructField

    corrupt = "_corrupt_record"
    aug = StructType(list(schema.fields) + [StructField(corrupt, StringType(), True)])
    parsed = df.select(
        F.explode(
            F.array(
                F.from_json(
                    F.col("value"),
                    aug,
                    {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt},
                )
            )
        ).alias("data")
    )
    return parsed.filter(
        F.col("data").isNotNull() & F.col(f"data.{corrupt}").isNull()
    ).select(*[f"data.{f.name}" for f in schema.fields])


def read_json_lines_stream(
    spark: SparkSession, path: str, schema: StructType, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stand-in for Kafka in offline tests: each line is one
    'message'. Reading as ``text`` then from_json keeps the exact same
    PERMISSIVE parse path as the Kafka source."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(path)
    return parse_json_payload(raw.select(F.col("value")), schema)


def serialize_json_payload(df: DataFrame) -> DataFrame:
    """Producer-side serialization (S4): all columns -> one JSON
    ``value`` string, the reference's ``json.dumps(event).encode()``
    (generate_data.py:353). Split from the sink wiring so the offline
    suite can prove the produce->consume round trip:
    ``parse_json_payload(serialize_json_payload(df), df.schema) == df``
    (tests/test_streaming.py)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


def to_kafka_json_sink(df: DataFrame, brokers: str, topic: str, checkpoint: str):
    """Producer sink (S4): serialize all columns to one JSON value and
    write to a topic -- the reference's ``json.dumps(...).encode()``
    producer (generate_data.py:353)."""
    return (
        serialize_json_payload(df)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )
