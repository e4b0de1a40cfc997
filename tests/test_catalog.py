"""Catalog operator coverage (SURVEY.md section 2.6 D1-D7)."""

from __future__ import annotations

import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from kafka_clickhouse_pipeline_spark.catalog import (
    load_table,
    register_views,
    scan_partitions,
    table_path,
    tables_exist,
)
from kafka_clickhouse_pipeline_spark.schemas import FIXTURE_TABLES


def test_register_views_and_show_tables(spark, sf_dir):
    register_views(spark, sf_dir)  # D1 analog
    names = {t.name for t in spark.catalog.listTables()}  # D6 SHOW TABLES
    assert {"events", "lineitem", "documents", "embeddings"} <= names
    # views are queryable through SQL (the reference's serving path)
    assert spark.sql("SELECT count(*) AS c FROM events").collect()[0]["c"] > 0
    spark.catalog.dropTempView("events")  # D3 DROP TABLE
    assert "events" not in {t.name for t in spark.catalog.listTables()}
    register_views(spark, sf_dir)  # idempotent re-create (IF NOT EXISTS analog)


def test_tables_exist_probe(spark, sf_dir):
    assert tables_exist(spark, sf_dir, ("events", "lineitem"))  # D7
    assert not tables_exist(spark, sf_dir, ("events", "no_such_table"))


def test_warm_load_table_starts_no_job(spark, sf_dir, count_jobs):
    """Only the first read of a file version infers its schema; every
    later ``load_table`` of it starts no Spark job."""
    names = [n for n in FIXTURE_TABLES if os.path.exists(table_path(sf_dir, n))]
    for name in names:
        load_table(spark, sf_dir, name)
    jobs = {n: count_jobs(lambda: load_table(spark, sf_dir, n)) for n in names}
    assert jobs == dict.fromkeys(names, 0)


def test_warm_register_views_starts_no_job(spark, sf_dir, count_jobs):
    register_views(spark, sf_dir)
    assert count_jobs(lambda: register_views(spark, sf_dir)) == 0


def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    """The cached schema is keyed on the file's (path, mtime, size): a
    rewrite with another column and other rows is read afresh."""
    path = table_path(str(tmp_path), "t")
    pq.write_table(pa.table({"id": [1, 2], "v": ["a", "b"]}), path)
    first = load_table(spark, str(tmp_path), "t")
    assert first.columns == ["id", "v"]
    assert sorted(map(tuple, first.collect())) == [(1, "a"), (2, "b")]

    pq.write_table(
        pa.table({"id": [3, 4, 5], "v": ["c", "d", "e"], "w": [0.5, 1.5, 2.5]}), path
    )
    second = load_table(spark, str(tmp_path), "t")
    assert second.columns == ["id", "v", "w"]
    assert sorted(map(tuple, second.collect())) == [
        (3, "c", 0.5), (4, "d", 1.5), (5, "e", 2.5)
    ]


def test_missing_table_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException) as exc:
        load_table(spark, str(tmp_path), "no_such_table")
    assert exc.value.getCondition() == "PATH_NOT_FOUND"


def test_concurrent_cold_loads_agree(spark, sf_dir, tmp_path):
    """Four threads that miss the schema cache at once (as concurrent
    serving requests can) all read the same schema and rows."""
    shutil.copyfile(table_path(sf_dir, "events"), table_path(str(tmp_path), "events"))
    barrier = threading.Barrier(4)

    def load(_):
        barrier.wait()
        df = load_table(spark, str(tmp_path), "events")
        return df.schema, df.orderBy("event_id").collect()

    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(load, range(4)))
    expected = load_table(spark, sf_dir, "events")
    expected_rows = expected.orderBy("event_id").collect()
    assert expected_rows
    for schema, rows in results:
        assert schema == expected.schema
        assert rows == expected_rows


def test_scan_partitions_is_none_for_a_directory_table(spark, tmp_path):
    """A directory table (a streaming sink's output) gets no cached
    partition count: its top-level mtime does not move when a batch
    lands in a partition subdirectory."""
    path = table_path(str(tmp_path), "t")
    os.makedirs(path)
    pq.write_table(pa.table({"id": [1, 2]}), os.path.join(path, "part-0.parquet"))
    assert scan_partitions(spark, str(tmp_path), "t") is None
    assert scan_partitions(spark, str(tmp_path), "no_such_table") is None
    assert load_table(spark, str(tmp_path), "t").count() == 2
