"""The materialized-view transforms as pure ``DataFrame -> DataFrame``
functions -- the body of each Structured Streaming query, testable in
batch without Kafka.

Reference originals:
- ``sales_mv``           generate_data.py:210-228
- ``stock_movements_mv`` generate_data.py:231-246

Both are stateless row-wise transforms (parse, cast, project, filter)
-- exactly what Spark fuses into a single whole-stage-codegen'd map
stage; at 100 TB these scale linearly with input and never shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import parse_datetime_best_effort, to_decimal32


def with_processing_time(df: DataFrame) -> DataFrame:
    """``df`` plus a last ``processing_time`` column: the query's
    current timestamp, one value for every row of a batch.

    The timestamp comes out of a one-element ``inline``, not a plain
    ``current_timestamp()``. Evaluated once per query, the timestamp is
    a literal by the time code is generated, and codegen inlines a
    timestamp literal into the Java source: every micro-batch's stage
    is then new code and is compiled again. Applied to the batch (see
    ``PipelineManager.attach``), ``ComputeCurrentTime`` and constant
    folding turn the array into one non-primitive literal, which
    codegen passes as a reference instead. Each warm drain of the
    perfbench ingest backlog (20k events, 8 micro-batches,
    ``local[4]``) compiled 16 classes with a plain
    ``current_timestamp()`` in the streaming plan, 16 with this
    ``inline`` there, 24 with a plain one applied to the batch, and 0
    with this one applied to the batch."""
    stamp = F.struct(F.current_timestamp().alias("processing_time"))
    return df.select("*", F.inline(F.array(stamp)))


def parse_sales(raw: DataFrame) -> DataFrame:
    """sales_kafka -> sales (generate_data.py:210-228).

    - event_time: lenient string->timestamp, null on failure (F1,
      parseDateTimeBestEffortOrNull, generate_data.py:215)
    - price/discount/total: Float64 -> Decimal(9,2) (F2, toDecimal32,
      generate_data.py:220-222)
    - WHERE price IS NOT NULL (P3, generate_data.py:227) -- drops rows
      whose JSON price was missing/broken
    - processing_time DEFAULT now() (S9, generate_data.py:169)
    """
    return (
        raw.select(
            "event_id",
            "event_type",
            parse_datetime_best_effort("event_time").alias("event_time"),
            "product_id",
            "product_name",
            "category",
            "quantity",
            to_decimal32("price").alias("price"),
            to_decimal32("discount").alias("discount"),
            to_decimal32("total").alias("total"),
            "store_id",
            "cashier_id",
            "customer_id",
        )
        .filter(F.col("price").isNotNull())
        .transform(with_processing_time)
    )


def parse_stock(raw: DataFrame) -> DataFrame:
    """warehouse_kafka -> stock_movements (generate_data.py:231-246).

    Parse-only: lenient timestamp, projection, processing_time. No
    filter -- the reference lands every warehouse row, even with null
    event_time (SURVEY.md section 2.8).
    """
    return raw.select(
        "event_id",
        "event_type",
        parse_datetime_best_effort("event_time").alias("event_time"),
        "product_id",
        "product_name",
        "category",
        "warehouse",
        "quantity",
        "movement_type",
        "source",
        "responsible",
    ).transform(with_processing_time)
