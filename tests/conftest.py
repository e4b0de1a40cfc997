"""Shared fixtures: one SparkSession per test run, DuckDB oracle
connection with the fixture parquet registered as views (mirroring the
driver's harness)."""

from __future__ import annotations

import os
import uuid

import duckdb
import pytest

from kafka_clickhouse_pipeline_spark.catalog import table_path
from kafka_clickhouse_pipeline_spark.schemas import FIXTURE_TABLES
from kafka_clickhouse_pipeline_spark.session import get_spark
from kafka_clickhouse_pipeline_spark.streaming import commit

SMOKE_SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


#: Test-session width. r12 (VERDICT r11 #7) measured local[8] + 8
#: shuffle partitions as a NEGATIVE: test_round11_gates 61 s -> 89 s
#: (the r11 SMT finding -- extra concurrent tasks split physical
#: cores without adding throughput on this latency-bound fixture
#: work) and the wedge packed-key plan pin flips (a wider session
#: changes the wedge-count-derived width AQE sees). Kept at 4.
TEST_CPUS = os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master=f"local[{TEST_CPUS}]",
        shuffle_partitions=int(TEST_CPUS),
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SMOKE_SF


@pytest.fixture(scope="session")
def oracle(sf_dir):
    con = duckdb.connect()
    for name in FIXTURE_TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` on this thread under a fresh
    Spark job group and returns how many jobs it started."""
    sc = spark.sparkContext

    def run(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture()
def hadoop_fs(monkeypatch, spark):
    """Route every plain path and file: URI in streaming/commit.py
    through the Hadoop FileSystem backend (the JVM LocalFileSystem): the
    exact globStatus/rename/create/delete calls an s3a:// or hdfs://
    table makes, no mocks. The replacement keeps ``_backend``'s
    signature, so callers that pass the session by keyword work too."""
    real_backend = commit._backend
    session = spark

    def forced(path, spark=None):
        if path.startswith("/"):
            return commit._HadoopBackend(f"file://{path}", spark=spark or session), path
        if path.startswith("file:"):
            return commit._HadoopBackend(path, spark=spark or session), path
        return real_backend(path, spark)

    monkeypatch.setattr(commit, "_backend", forced)


@pytest.fixture()
def lag_fs(monkeypatch):
    """Object store whose LIST lags its PUTs (s3a list-after-write
    semantics): files written by move/write_text stay INVISIBLE to
    glob/listdir until the store 'settles' (the returned callable),
    while exists() (a GET) stays consistent, and rename follows Hadoop
    semantics (raises via the false-return contract when dst exists).
    Shared by the staged-commit and compaction protocol tests."""
    import shutil

    hidden: set[str] = set()

    class _ListLagBackend(commit._LocalBackend):
        def move(self, src, dst):
            if os.path.exists(dst):  # Hadoop rename-false contract
                raise IOError(f"Hadoop rename failed: {src!r} -> {dst!r}")
            shutil.move(src, dst)
            hidden.add(dst)

        def write_text(self, path, text):
            super().write_text(path, text)
            hidden.add(path)

        def remove(self, path):  # deletes are GET-consistent
            super().remove(path)
            hidden.discard(path)

        def glob(self, pattern):
            return [
                f for f in super().glob(pattern) if f not in hidden
            ]

        def listdir(self, path):
            return [
                n
                for n in super().listdir(path)
                if os.path.join(path, n) not in hidden
            ]

    orig = commit._backend

    def routed(path, spark=None):
        fs, p = orig(path, spark)
        if isinstance(fs, commit._LocalBackend):
            return _ListLagBackend(), p
        return fs, p

    monkeypatch.setattr(commit, "_backend", routed)

    def settle():
        hidden.clear()

    return settle
