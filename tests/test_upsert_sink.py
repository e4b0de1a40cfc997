"""Latest-wins upsert sink (streaming ReplacingMergeTree analog):
merge correctness, out-of-order versions, replay convergence, and
bucket-scoped rewrites (untouched buckets keep their files)."""

from __future__ import annotations

import glob
import os

import pytest

from kafka_clickhouse_pipeline_spark.streaming.upsert import (
    BUCKET_COL,
    latest_per_key,
    upsert_batch,
    upsert_stream_to_table,
)


def _rows(spark, data):
    return spark.createDataFrame(data, "k long, ts long, v string")


def _table(spark, path):
    return {r.k: (r.ts, r.v) for r in spark.read.parquet(path).collect()}


def test_latest_per_key_collapses_to_newest(spark):
    df = _rows(spark, [(1, 10, "old"), (1, 30, "new"), (1, 20, "mid"), (2, 5, "x")])
    got = {r.k: (r.ts, r.v) for r in latest_per_key(df, ["k"], ["ts"]).collect()}
    assert got == {1: (30, "new"), 2: (5, "x")}


def test_upsert_batch_merges_latest(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_batch(_rows(spark, [(1, 10, "a"), (2, 10, "b")]), path, ["k"], ["ts"], 8)
    upsert_batch(_rows(spark, [(1, 20, "a2"), (3, 5, "c")]), path, ["k"], ["ts"], 8)
    assert _table(spark, path) == {1: (20, "a2"), 2: (10, "b"), 3: (5, "c")}


def test_upsert_stale_version_is_ignored(spark, tmp_path):
    """An out-of-order (older-version) redelivery must not regress the
    stored row -- the ReplacingMergeTree keep-newest contract."""
    path = str(tmp_path / "t")
    upsert_batch(_rows(spark, [(1, 50, "newest")]), path, ["k"], ["ts"], 8)
    upsert_batch(_rows(spark, [(1, 10, "stale")]), path, ["k"], ["ts"], 8)
    assert _table(spark, path) == {1: (50, "newest")}


def test_upsert_replay_converges(spark, tmp_path):
    """foreachBatch is at-least-once: applying the same batch twice must
    land on the same table state (merge is idempotent)."""
    path = str(tmp_path / "t")
    upsert_batch(_rows(spark, [(1, 10, "a"), (2, 10, "b")]), path, ["k"], ["ts"], 8)
    batch2 = [(1, 20, "a2"), (4, 7, "d")]
    upsert_batch(_rows(spark, batch2), path, ["k"], ["ts"], 8)
    once = _table(spark, path)
    upsert_batch(_rows(spark, batch2), path, ["k"], ["ts"], 8)
    assert _table(spark, path) == once == {1: (20, "a2"), 2: (10, "b"), 4: (7, "d")}


def _files_by_bucket(path):
    out = {}
    for d in glob.glob(os.path.join(path, f"{BUCKET_COL}=*")):
        out[os.path.basename(d)] = sorted(
            os.path.basename(f) for f in glob.glob(os.path.join(d, "*.parquet"))
        )
    return out


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100 TB property: a batch touching one key must rewrite only
    that key's hash bucket -- every other bucket directory keeps its
    exact files (dynamic partition overwrite, no full-table rewrite)."""
    path = str(tmp_path / "t")
    upsert_batch(
        _rows(spark, [(k, 1, f"v{k}") for k in range(40)]), path, ["k"], ["ts"], 8
    )
    before = _files_by_bucket(path)
    assert len(before) > 2  # keys spread over several buckets
    upsert_batch(_rows(spark, [(1, 2, "updated")]), path, ["k"], ["ts"], 8)
    after = _files_by_bucket(path)
    changed = [b for b in before if after.get(b) != before[b]]
    assert len(changed) == 1  # exactly key 1's bucket
    assert _table(spark, path)[1] == (2, "updated")
    assert _table(spark, path)[7] == (1, "v7")


@pytest.mark.parametrize("as_uri", [False, True], ids=["plain_path", "file_uri"])
def test_upsert_reads_the_current_table_at_any_uri(spark, tmp_path, as_uri):
    """The existing-table check goes through the commit backends, so a
    table named by a file:// URI keeps the untouched rows of the
    buckets a batch rewrites instead of replacing them with the batch."""
    path = str(tmp_path / "t")
    if as_uri:
        path = f"file://{path}"
    upsert_batch(
        _rows(spark, [(k, 1, f"v{k}") for k in range(40)]), path, ["k"], ["ts"], 2
    )
    upsert_batch(_rows(spark, [(1, 2, "updated")]), path, ["k"], ["ts"], 2)
    table = _table(spark, path)
    assert len(table) == 40
    assert table[1] == (2, "updated")
    assert table[7] == (1, "v7")


def test_upsert_leaves_the_session_conf_alone(spark, tmp_path, monkeypatch):
    """Dynamic overwrite is an option of the one write, never a session
    conf set and restored around it: the session is shared with every
    other stream's foreachBatch thread, and a restore racing another
    upsert's write would turn that write into a full-table overwrite."""
    from pyspark.sql.conf import RuntimeConfig

    set_keys = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        set_keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    path = str(tmp_path / "t")
    upsert_batch(
        _rows(spark, [(k, 1, f"v{k}") for k in range(40)]), path, ["k"], ["ts"], 8
    )
    before = _files_by_bucket(path)
    upsert_batch(_rows(spark, [(1, 2, "updated")]), path, ["k"], ["ts"], 8)
    assert set_keys == []
    after = _files_by_bucket(path)
    assert sum(after.get(b) != before[b] for b in before) == 1
    assert len(_table(spark, path)) == 40


def test_upsert_stream_available_now(spark, tmp_path):
    """End-to-end streaming path: file source -> upsert sink with an
    availableNow trigger (the ATTACH analog), then an incremental second
    attach picking up only new files."""
    src = str(tmp_path / "src")
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    _rows(spark, [(1, 10, "a"), (2, 10, "b")]).write.parquet(src)

    def attach():
        stream = spark.readStream.schema("k long, ts long, v string").parquet(src)
        q = (
            upsert_stream_to_table(stream, path, ckpt, ["k"], ["ts"], n_buckets=8)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    attach()
    assert _table(spark, path) == {1: (10, "a"), 2: (10, "b")}
    _rows(spark, [(1, 20, "a2"), (3, 5, "c")]).write.mode("append").parquet(src)
    attach()
    assert _table(spark, path) == {1: (20, "a2"), 2: (10, "b"), 3: (5, "c")}
