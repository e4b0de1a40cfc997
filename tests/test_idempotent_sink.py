"""Effectively-once sink: replayed and half-published micro-batches
must not duplicate rows."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from kafka_clickhouse_pipeline_spark.streaming.sink import idempotent_batch_writer


def _batch(spark, payloads):
    schema = StructType(
        [StructField("event_time_s", StringType()), StructField("product_id", IntegerType()), StructField("payload", StringType())]
    )
    rows = [(f"2024-01-{i + 1:02d} 00:00:00", i, p) for i, p in enumerate(payloads)]
    return spark.createDataFrame(rows, schema).select(
        F.col("event_time_s").cast("timestamp").alias("event_time"), "product_id", "payload"
    )


def _table(request, tmp_path, scheme: str) -> tuple[str, str]:
    """(writer path, local directory) of the table under test: a plain
    path, or a file:// URI whose every commit-protocol operation goes
    through commit._HadoopBackend (the s3a:// / hdfs:// code path)."""
    local = str(tmp_path / "tbl")
    if scheme:
        request.getfixturevalue("hadoop_fs")
    return scheme + local, local


TABLES = pytest.mark.parametrize("scheme", ["", "file://"], ids=["path", "file_uri"])


@TABLES
def test_replayed_batch_is_noop(spark, tmp_path, request, scheme):
    path, _ = _table(request, tmp_path, scheme)
    writer = idempotent_batch_writer(path, target_files=2)
    df = _batch(spark, ["a", "b", "c"])
    writer(df, 0)
    assert spark.read.parquet(path).count() == 3
    writer(df, 0)  # foreachBatch replay after restart
    assert spark.read.parquet(path).count() == 3
    writer(_batch(spark, ["d"]), 1)  # next batch still appends
    assert spark.read.parquet(path).count() == 4


@TABLES
def test_half_published_batch_retry_does_not_duplicate(spark, tmp_path, request, scheme):
    path, local = _table(request, tmp_path, scheme)
    writer = idempotent_batch_writer(path, target_files=2)
    writer(_batch(spark, ["a", "b", "c"]), 0)
    # simulate a crash AFTER publish but BEFORE the commit marker:
    # remove the marker; published files of batch 0 remain
    os.remove(os.path.join(local, "_commits", "0"))
    n_files_before = len(glob.glob(f"{local}/event_month=*/b0-*"))
    assert n_files_before > 0
    writer(_batch(spark, ["a", "b", "c"]), 0)  # retry
    assert spark.read.parquet(path).count() == 3  # no duplicates
    assert os.path.exists(os.path.join(local, "_commits", "0"))


def test_compact_partitions_rewrites_only_crowded_months(spark, tmp_path):
    """Many per-batch files -> compaction rewrites crowded month
    partitions down to target_files, preserves all rows, and leaves
    uncrowded partitions' files untouched."""
    import glob
    import os

    from pyspark.sql import functions as F

    from kafka_clickhouse_pipeline_spark.streaming.sink import (
        compact_partitions,
        idempotent_batch_writer,
    )

    path = str(tmp_path / "table")
    writer = idempotent_batch_writer(path, target_files=2)
    # 6 batches into month 202401 (12 files), 1 batch into 202402 (2)
    for b in range(6):
        df = spark.createDataFrame(
            [(f"2024-01-{10+b:02d} 00:00:00", b * 10 + i, 1.0) for i in range(5)],
            "event_time STRING, product_id INT, price DOUBLE",
        ).withColumn("event_time", F.to_timestamp("event_time"))
        writer(df, b)
    feb = spark.createDataFrame(
        [("2024-02-01 00:00:00", 999, 2.0)],
        "event_time STRING, product_id INT, price DOUBLE",
    ).withColumn("event_time", F.to_timestamp("event_time"))
    writer(feb, 100)

    before = spark.read.parquet(path)
    before_rows = sorted((r["product_id"], str(r["event_time"])) for r in before.collect())
    jan_files = glob.glob(os.path.join(path, "event_month=202401", "*.parquet"))
    feb_files = sorted(glob.glob(os.path.join(path, "event_month=202402", "*.parquet")))
    assert len(jan_files) > 8

    compacted = compact_partitions(spark, path, max_files_per_partition=8, target_files=2)
    assert compacted == ["202401"]
    jan_after = glob.glob(os.path.join(path, "event_month=202401", "*.parquet"))
    assert len(jan_after) <= 2
    # untouched partition keeps its exact files
    assert sorted(glob.glob(os.path.join(path, "event_month=202402", "*.parquet"))) == feb_files
    after_rows = sorted(
        (r["product_id"], str(r["event_time"]))
        for r in spark.read.parquet(path).collect()
    )
    assert after_rows == before_rows
