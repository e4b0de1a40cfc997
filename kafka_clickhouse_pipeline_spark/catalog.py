"""Fixture-table access: parquet paths -> DataFrames / temp views.

The reference's catalog is ClickHouse's (CREATE TABLE IF NOT EXISTS,
SHOW TABLES -- generate_data.py:96-195, app.py:19). Here the catalog is
the Spark session catalog over driver-provided parquet.
"""

from __future__ import annotations

import functools
import os
import stat
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .schemas import FIXTURE_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: The confs that size a file scan's splits (Spark's
#: ``FilePartition.maxSplitBytes``); part of every file version, so a
#: conf change in the same session is seen.
_SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
)


def file_version(spark: SparkSession, sf_dir: str, name: str) -> tuple | None:
    """The version of table ``name``'s file that every per-file cache
    keys on: ``(st_ino, st_size, st_mtime_ns, st_ctime_ns, split
    confs)``, or None for a missing table or one that is not a regular
    file. The inode and ctime catch a same-size restore that keeps its
    mtime (``cp -p``, ``shutil.copy2``). A directory table (a streaming
    sink's output) has no version, because its top-level stat does not
    move when a batch lands in a partition subdirectory; nothing about
    it is cached."""
    try:
        st = os.stat(table_path(sf_dir, name))
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(k, None) for k in _SPLIT_CONFS)
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns, confs)


#: Parquet schema per file version. A plain ``spark.read.parquet(path)``
#: infers the schema by running a footer-reading Spark job on every
#: call. Reading with the schema an earlier read inferred starts no
#: job: the serving routes drop from 5/3/2/5/13 jobs per request
#: (sales/stock/recent/status/sql) to 4/2/1/4/3, and on the sf0.1
#: serving benchmark (4-vCPU VM, local[4]) the median warm
#: ``load_table`` from 124 to 24 ms and ``register_views`` over the
#: ten fixture tables from 1.26 to 0.35 s. A rewritten file is
#: inferred afresh; the session is part of the key because inference
#: reads its confs. ``lru_cache`` is thread-safe; two threads that
#: miss at once both infer the same schema. The cached StructType is
#: only passed to ``spark.read.schema``, never handed to a caller.
#: Bounded, because every rewrite of a file adds a key.
@functools.lru_cache(maxsize=256)
def _parquet_schema(spark: SparkSession, path: str, version: tuple) -> StructType:
    return spark.read.parquet(path).schema


def _read_parquet(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    version = file_version(spark, sf_dir, name)
    if version is None:  # Spark infers, or raises its own PATH_NOT_FOUND
        return spark.read.parquet(path)
    return spark.read.schema(_parquet_schema(spark, path, version)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with the vectorized reader and
    pushdown/pruning. The schema comes from a cache keyed on
    ``file_version``: only the first read of a file version runs
    Spark's schema-inference job (a directory table, which has no
    version, is inferred on every read). Each call lists the files
    afresh, so the returned DataFrame reads the table as it is now; a
    caller that keeps a DataFrame across calls (``serving_app``'s
    stored chart queries) keys it on ``file_version`` to see a
    rewrite.

    ``events.ts`` is physically TIMESTAMP(NANOS), which Spark's reader
    rejects; read it as long nanos (legacy conf) and floor-convert to a
    microsecond TimestampType -- the same truncation DuckDB applies when
    surfacing TIMESTAMP_NS to clients, so oracles agree.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, sf_dir, name)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return _read_parquet(spark, sf_dir, name)


@functools.lru_cache(maxsize=256)
def _scan_partitions(spark: SparkSession, sf_dir: str, name: str, version: tuple) -> int:
    # ``.rdd`` plans the scan without running it: no Spark job
    return load_table(spark, sf_dir, name).rdd.getNumPartitions()


def scan_partitions(spark: SparkSession, sf_dir: str, name: str) -> int | None:
    """Input partitions of ``load_table(spark, sf_dir, name)``'s scan,
    as Spark plans them, or None for a table without a
    ``file_version`` (missing, or a directory). Read from the plan once
    per file version: uncached, planning the scan costs 18-32 ms per
    call on top of ``load_table`` (sf0.1 ``events``, 4-vCPU VM)."""
    version = file_version(spark, sf_dir, name)
    if version is None:
        return None
    return _scan_partitions(spark, sf_dir, name, version)


def register_views(
    spark: SparkSession, sf_dir: str, names: Iterable[str] = FIXTURE_TABLES
) -> None:
    """Register fixture tables as temp views (SQL entry point,
    analogous to the reference's SHOW TABLES-visible catalog): every
    fixture table by default, or only ``names``. Each call reloads
    each named table (no Spark job once its schema is cached) and
    replaces its view, so the views always read the current file."""
    for name in names:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def tables_exist(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> bool:
    """Existence probe, analog of app.py:16-33 check_tables_exist."""
    return all(os.path.exists(table_path(sf_dir, n)) for n in names)
