"""Effectively-once sink: replayed and half-published micro-batches
must not duplicate rows. Table layout: every published file is in
sort-key order, and a batch that is already small is written in one
stage."""

from __future__ import annotations

import glob
import os
import random
import re

import pyarrow.parquet as pq
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


@TABLES
def test_compact_partitions_rewrites_only_crowded_months(spark, tmp_path, request, scheme):
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

    path, local = _table(request, tmp_path, scheme)
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
    jan_files = glob.glob(os.path.join(local, "event_month=202401", "*.parquet"))
    feb_files = sorted(glob.glob(os.path.join(local, "event_month=202402", "*.parquet")))
    assert len(jan_files) > 8

    compacted = compact_partitions(spark, path, max_files_per_partition=8, target_files=2)
    assert compacted == ["202401"]
    jan_after = glob.glob(os.path.join(local, "event_month=202401", "*.parquet"))
    assert len(jan_after) <= 2
    # untouched partition keeps its exact files
    assert sorted(glob.glob(os.path.join(local, "event_month=202402", "*.parquet"))) == feb_files
    after_rows = sorted(
        (r["product_id"], str(r["event_time"]))
        for r in spark.read.parquet(path).collect()
    )
    assert after_rows == before_rows


def _scrambled_events(n: int = 400) -> list[tuple]:
    """``n`` (event_time, product_id, payload) rows over two months in a
    seeded random order, with repeated event times (so product_id
    breaks ties) and a few null event times and product ids."""
    rows = []
    for i in range(n):
        t = None if i % 97 == 0 else f"2024-{1 + i % 2:02d}-{1 + i % 5:02d} 00:00:{i % 7:02d}"
        rows.append((t, None if i % 89 == 0 else (i * 37) % 50, f"p{i}"))
    random.Random(8).shuffle(rows)
    return rows


def _events_df(spark, rows):
    return spark.createDataFrame(rows, "event_time STRING, product_id INT, payload STRING").withColumn(
        "event_time", F.to_timestamp("event_time")
    )


def _rows(df) -> list[tuple]:
    """(event_time, product_id, payload) rows, ordered by the unique
    payload."""
    return sorted(((r.event_time, r.product_id, r.payload) for r in df.collect()), key=lambda r: r[2])


def _assert_files_sorted(local: str, pattern: str = "*.parquet") -> int:
    """Every data file under ``local``'s month partitions is in
    ``SORT_KEY`` order with nulls first, read back with pyarrow.
    Returns how many files were checked."""
    files = glob.glob(os.path.join(local, "event_month=*", pattern))
    for f in files:
        t = pq.read_table(f, columns=["event_time", "product_id"]).to_pylist()
        keys = [
            (r["event_time"] is not None, r["event_time"], r["product_id"] is not None, r["product_id"])
            for r in t
        ]
        assert keys == sorted(keys), f"{f} is not in (event_time, product_id) order"
    return len(files)


def _files_per_month(local: str) -> dict[str, int]:
    return {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(local, "event_month=*"))
    }


def _last_write_plan(spark) -> str:
    """Executed plan of the latest parquet write, from the SQL status
    store (what the UI's SQL tab and the REST API show)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in range(executions.size() - 1, -1, -1):
        plan = executions.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in plan:
            return plan
    raise AssertionError("no parquet write in the SQL status store")


@pytest.mark.parametrize("splits", ["small", "large"])
def test_partition_gate_branches(spark, tmp_path, count_jobs, splits):
    """Both branches of prepare_batch's partition gate, through the
    public batch writer. A batch of at most target_files splits is
    written in one job: no exchange and one sort, which leads with
    event_month and so survives the partitioned write. A batch of more
    splits keeps the round-robin repartition. Either way each month
    gets at most target_files files, every file is sorted and the rows
    are exactly the input's."""
    rows = _scrambled_events()
    src = tmp_path / "batch.csv"
    src.write_text("".join(f"{t or ''},{'' if p is None else p},{x}\n" for t, p, x in rows))
    conf = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(conf, None)
    if splits == "large":
        spark.conf.set(conf, str(os.path.getsize(src) // 8))
    try:
        df = spark.read.schema("event_time TIMESTAMP, product_id INT, payload STRING").csv(str(src))
        n = df.rdd.getNumPartitions()
        assert (n == 1) if splits == "small" else (n > 4)
        path = str(tmp_path / "tbl")
        writer = idempotent_batch_writer(path, target_files=4)
        jobs = count_jobs(lambda: writer(df, 0))
        plan = _last_write_plan(spark)
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)
    sorts = re.findall(r"^\(\d+\) Sort\b.*\nInput.*\nArguments: \[([^\]]*)\]", plan, re.M)
    key = re.compile(
        r"event_month#\d+ ASC NULLS FIRST, event_time#\d+ ASC NULLS FIRST, "
        r"product_id#\d+ ASC NULLS FIRST"
    )
    assert sorts and all(key.fullmatch(s) for s in sorts), sorts
    if splits == "small":
        assert "Exchange" not in plan
        assert len(sorts) == 1
        assert jobs == 1
    else:
        assert "RoundRobinPartitioning(4)" in plan
    assert all(k <= 4 for k in _files_per_month(path).values())
    assert _assert_files_sorted(path) >= 2
    assert _rows(spark.read.parquet(path)) == _rows(_events_df(spark, rows))


def test_prepare_batch_counts_no_partitions_through_an_exchange(spark, count_jobs):
    """A frame whose plan already holds an exchange keeps the
    repartition, and building its write plan starts no job (counting
    its partitions would run the exchange)."""
    from kafka_clickhouse_pipeline_spark.streaming.sink import prepare_batch

    agg = _events_df(spark, _scrambled_events(40)).groupBy("product_id").agg(
        F.max("event_time").alias("event_time")
    )
    jobs = count_jobs(lambda: prepare_batch(agg, 4))
    assert jobs == 0
    plan = prepare_batch(agg, 4)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning(4)" in plan


@pytest.mark.parametrize("writer", ["batch_sink", "compaction", "overwrite_partitions"])
def test_published_files_are_sorted_by_sort_key(spark, tmp_path, writer):
    """Every file the sink publishes is in SORT_KEY order (nulls first):
    the streaming batch sink, compaction's rewrite and
    overwrite_partitions. Each input frame is in random order."""
    from kafka_clickhouse_pipeline_spark.streaming.sink import (
        compact_partitions,
        overwrite_partitions,
    )

    rows = _scrambled_events()
    path = str(tmp_path / "tbl")
    if writer == "overwrite_partitions":
        overwrite_partitions(_events_df(spark, rows), path, target_files=2)
        pattern = "*.parquet"
    else:
        batch_sink = idempotent_batch_writer(path, target_files=2)
        for b in range(5):
            batch_sink(_events_df(spark, rows[b::5]), b)
        pattern = "b*.parquet"
        if writer == "compaction":
            assert compact_partitions(spark, path, max_files_per_partition=8, target_files=2)
            pattern = "c*.parquet"
    assert _assert_files_sorted(path, pattern) >= 2
    assert _rows(spark.read.parquet(path)) == _rows(_events_df(spark, rows))
