"""Unit tests for the shared staged-commit wrapper
(streaming/commit.py staged_foreach_batch) -- the one place the
sweep-before-body crash-window ordering is enforced (VERDICT r4 #8).
The six writers' end-to-end behavior (including crash-window replays)
is covered by their own test modules; these pin the wrapper contract
itself so a refactor of any single writer can't reorder the protocol.
"""

from __future__ import annotations

import contextlib
import os
import re

import pytest

from kafka_clickhouse_pipeline_spark.streaming import commit


def _touch(path: str, content: str = "x") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(content)


def _use_backend(request, backend):
    if backend == "hadoop_fs":
        request.getfixturevalue("hadoop_fs")


def test_marker_dir_must_be_a_destination(tmp_path):
    with pytest.raises(AssertionError):
        commit.staged_foreach_batch(str(tmp_path / "other"), [str(tmp_path / "a")], lambda *a: None)


def test_replayed_batch_is_noop(tmp_path):
    dest = str(tmp_path / "state")
    calls = []
    w = commit.staged_foreach_batch(dest, [dest], lambda df, bid, st: calls.append(bid))
    _touch(commit.marker_path(dest, 7))
    w(None, 7)
    assert calls == []


def test_sweep_runs_before_body_and_publish_after(tmp_path):
    """A crashed attempt's half-published b5-* file must be gone by the
    time the body runs (the replay-reads-own-index data-loss window),
    and the body's staged output must be published under the batch
    prefix with exactly one marker."""
    dest = str(tmp_path / "state")
    leftover = os.path.join(dest, "b5-old.parquet")
    _touch(leftover)
    seen = {}

    def body(df, bid, staging):
        seen["leftover_gone"] = not os.path.exists(leftover)
        _touch(os.path.join(staging[dest], "part-0.parquet"), "data")

    commit.staged_foreach_batch(dest, [dest], body)(None, 5)
    assert seen["leftover_gone"], "sweep must precede the body"
    assert os.path.exists(os.path.join(dest, "b5-part-0.parquet"))
    assert commit.already_committed(dest, 5)
    assert not os.path.exists(os.path.join(dest, "_staging"))


def test_dual_destination_single_marker(tmp_path):
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")

    def body(df, bid, staging):
        _touch(os.path.join(staging[out], "d.parquet"))
        _touch(os.path.join(staging[idx], "i.parquet"))

    commit.staged_foreach_batch(out, [out, idx], body)(None, 3)
    assert os.path.exists(os.path.join(out, "b3-d.parquet"))
    assert os.path.exists(os.path.join(idx, "b3-i.parquet"))
    assert commit.already_committed(out, 3)
    # one marker names the whole batch: the index dir carries none
    assert not os.path.isdir(os.path.join(idx, "_commits"))


def test_body_failure_leaves_no_marker_and_replay_reruns(tmp_path):
    dest = str(tmp_path / "state")
    attempts = []

    def body(df, bid, staging):
        attempts.append(bid)
        if len(attempts) == 1:
            # simulate a crash after a partial staged write
            _touch(os.path.join(staging[dest], "p.parquet"))
            raise RuntimeError("boom")
        _touch(os.path.join(staging[dest], "p.parquet"))

    w = commit.staged_foreach_batch(dest, [dest], body)
    with pytest.raises(RuntimeError):
        w(None, 9)
    assert not commit.already_committed(dest, 9)
    w(None, 9)  # replay succeeds
    assert attempts == [9, 9]
    assert commit.already_committed(dest, 9)
    assert os.path.exists(os.path.join(dest, "b9-p.parquet"))


def test_read_latest_state_empty_before_first_commit(tmp_path, spark):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("x", LongType(), False)])
    empty = commit.read_latest_state(spark, str(tmp_path / "none"), schema)
    assert empty.collect() == []
    assert commit.latest_committed(str(tmp_path / "none")) is None


# ---- round 7: scheme-routed filesystem backends (VERDICT r6 #8) ----


def test_scheme_routing_picks_backends():
    """Plain paths and file: URIs stay on the POSIX backend; object-
    store schemes route to the Hadoop backend (constructed lazily --
    the factory raises without a session only for REMOTE schemes)."""
    fs, p = commit._backend("/tmp/x")
    assert isinstance(fs, commit._LocalBackend) and p == "/tmp/x"
    fs, p = commit._backend("file:///tmp/x")
    assert isinstance(fs, commit._LocalBackend) and p == "/tmp/x"


def test_hadoop_backend_full_protocol_on_file_uri(tmp_path, spark):
    """The Hadoop backend run end-to-end through the staged-commit
    protocol against file:/ URIs -- the JVM Hadoop LocalFileSystem is
    a real FileSystem implementation, so this exercises the exact
    listStatus/globStatus/rename/create/delete calls an s3a:// or
    hdfs:// deployment would make (no mocks)."""
    uri = f"file://{tmp_path}/state"
    hb = commit._HadoopBackend(uri, spark=spark)
    # protocol primitives against the Hadoop API
    hb.makedirs(f"{uri}/_commits")
    assert hb.isdir(f"{uri}/_commits")
    hb.write_text(f"{uri}/_commits/0", "committed")
    assert hb.exists(f"{uri}/_commits/0")
    assert hb.listdir(f"{uri}/_commits") == ["0"]
    hb.makedirs(f"{uri}/_staging/1")
    hb.write_text(f"{uri}/_staging/1/part-0.parquet", "x")
    staged = hb.glob(f"{uri}/_staging/1/*.parquet")
    assert len(staged) == 1 and staged[0].endswith("part-0.parquet")
    hb.move(staged[0], f"{uri}/b1-part-0.parquet")
    assert hb.exists(f"{uri}/b1-part-0.parquet")
    assert not hb.exists(f"{uri}/_staging/1/part-0.parquet")
    hb.remove(f"{uri}/b1-part-0.parquet")
    assert not hb.exists(f"{uri}/b1-part-0.parquet")
    hb.rmtree(f"{uri}/_staging")
    assert not hb.exists(f"{uri}/_staging")


def test_staged_protocol_via_forced_hadoop_backend(tmp_path, hadoop_fs):
    """staged_foreach_batch with EVERY path operation forced through
    the Hadoop backend (file:/ URI localfs): replay no-op, publish,
    marker, and latest-state read must behave exactly as on POSIX."""
    dest = str(tmp_path / "state")
    os.makedirs(dest, exist_ok=True)
    calls = []

    def body(batch_df, batch_id, staging):
        calls.append(batch_id)
        os.makedirs(staging[dest], exist_ok=True)
        with open(os.path.join(staging[dest], "part-0.parquet"), "w") as fh:
            fh.write("data")

    writer = commit.staged_foreach_batch(dest, [dest], body)
    writer(None, 7)
    assert calls == [7]
    assert commit.already_committed(dest, 7)
    assert commit.latest_committed(dest) == 7
    assert os.path.exists(os.path.join(dest, "b7-part-0.parquet"))
    writer(None, 7)  # replay -> no-op
    assert calls == [7]


class TestListAfterWriteLag:
    """VERDICT r8 #6: the staged-commit protocol against an object
    store whose LIST lags its PUTs (see the lag_fs fixture). The
    protocol must never commit a marker over an unswept
    double-publish; a replay inside the lag window may fail loudly,
    and a replay after the lag clears must converge to exactly-once
    output."""

    @pytest.mark.parametrize("sink", ["state", "mv_table"])
    def test_crash_replay_converges_under_list_lag(
        self, sink, tmp_path, lag_fs, monkeypatch, spark
    ):
        """Run once with a flat state writer and once with the
        month-partitioned MV table writer (sink.idempotent_batch_writer)."""
        import glob

        from kafka_clickhouse_pipeline_spark.streaming.sink import (
            idempotent_batch_writer,
        )

        settle = lag_fs
        dest = str(tmp_path / "state")
        os.makedirs(dest)
        attempts = {"n": 0}

        def body(batch_df, batch_id, staging):
            attempts["n"] += 1
            os.makedirs(staging[dest], exist_ok=True)
            with open(
                os.path.join(staging[dest], "part-0.parquet"), "w"
            ) as f:
                f.write(f"attempt{attempts['n']}")

        if sink == "state":
            writer, batch = commit.staged_foreach_batch(dest, [dest], body), None
        else:
            writer = idempotent_batch_writer(dest, target_files=2)
            batch = spark.createDataFrame(
                [("2024-01-10 00:00:00", 1), ("2024-01-11 00:00:00", 2),
                 ("2024-02-01 00:00:00", 3)],
                "event_time STRING, product_id INT",
            ).selectExpr("to_timestamp(event_time) AS event_time", "product_id")

        # crash between publish and marker, with the published files
        # NOT yet visible to LIST
        def crash(*args):
            raise RuntimeError("crash before write_marker")

        with monkeypatch.context() as m:
            m.setattr(commit, "write_marker", crash)
            with pytest.raises(RuntimeError, match="crash"):
                writer(batch, 0)
        assert not commit.already_committed(dest, 0)

        # replay INSIDE the lag window: the sweep's glob cannot see
        # the leftover, so re-publish hits the existing dst and the
        # Hadoop rename contract fails the batch LOUDLY -- no marker,
        # no silent overwrite, no duplicate
        with pytest.raises(IOError, match="rename failed"):
            writer(batch, 0)
        assert not commit.already_committed(dest, 0)

        # lag clears; the next replay sweeps the crashed attempt and
        # commits exactly the files its marker names
        settle()
        writer(batch, 0)
        assert commit.already_committed(dest, 0)
        files = sorted(
            os.path.relpath(f, dest)
            for f in glob.glob(os.path.join(dest, "**", "b0-*"), recursive=True)
        )
        assert files == sorted(commit.read_marker_manifest(dest, 0)[dest])
        if sink == "state":
            # one file, with the replayed attempt's bytes
            assert files == ["b0-part-0.parquet"]
            with open(os.path.join(dest, files[0])) as f:
                assert f.read() == f"attempt{attempts['n']}"
        else:
            rows = spark.read.parquet(dest).collect()
            assert sorted(r.product_id for r in rows) == [1, 2, 3]

    def test_reader_sees_committed_state_through_manifest(
        self, tmp_path, lag_fs, spark
    ):
        """The marker manifest closes the reader-side window: a batch
        whose files a LIST cannot yet see must still be readable the
        instant its marker is visible (exists/GET consistent)."""
        dest = str(tmp_path / "state")
        os.makedirs(dest)

        def body(batch_df, batch_id, staging):
            spark.createDataFrame(
                [(1, "a")], "id bigint, s string"
            ).coalesce(1).write.mode("overwrite").parquet(staging[dest])

        writer = commit.staged_foreach_batch(dest, [dest], body)
        writer(None, 0)
        # everything this batch wrote is still LIST-hidden (no settle)
        fs, p = commit._backend(dest)
        assert fs.glob(os.path.join(p, "b0-*.parquet")) == []
        # ...yet latest_committed + the manifest resolve the state.
        # NB: listdir on _commits is also lagged, which models a
        # reader polling an eventually-consistent store; the marker
        # becomes listable on settle, the data files may still lag.
        with open(os.path.join(dest, "_commits", "0")) as f:
            assert '"files"' in f.read()

        manifest = commit.read_marker_manifest(dest, 0)
        assert manifest is not None and len(manifest[dest]) == 1

        # settle (markers are tiny and written last; in the hazard the
        # marker is visible first), then prove the reader resolves the
        # data files WITHOUT any LIST at all -- manifest-only
        lag_fs()
        real_glob = commit._LocalBackend.glob

        def no_files_glob(self, pattern):
            if "b0-" in pattern:
                raise AssertionError(
                    "reader used a LIST to resolve committed files"
                )
            return real_glob(self, pattern)

        commit._LocalBackend.glob = no_files_glob
        try:
            out = commit.read_latest_state(
                spark, dest, "id bigint, s string"
            )
            assert [tuple(r) for r in out.collect()] == [(1, "a")]
        finally:
            commit._LocalBackend.glob = real_glob

    def test_text_marker_raises_naming_its_path(self, tmp_path, spark):
        """A marker that is not a v2 manifest (the pre-manifest text
        form) is an error that names the marker file, never a cue to
        list the directory instead."""
        dest = str(tmp_path / "state")
        os.makedirs(os.path.join(dest, "_commits"))
        marker = os.path.join(dest, "_commits", "0")
        with open(marker, "w") as f:
            f.write("committed")
        with pytest.raises(ValueError, match=re.escape(repr(marker))):
            commit.read_marker_manifest(dest, 0)
        with pytest.raises(ValueError, match=re.escape(repr(marker))):
            commit.read_latest_state(spark, dest, "id bigint, s string")


class TestCompactionProtocol:
    """VERDICT r9 #3: compact_partitions routed through the scheme
    backend and the staging -> publish -> ONE marker -> GC sequence.
    The contract under test: a reader (streaming.sink.read_table,
    manifest-resolved) sees every partition's rows EXACTLY ONCE at
    every crash point of a compaction, on a store whose LIST lags its
    PUTs -- and a writer-in-flight precondition is checked, not
    documented."""

    @staticmethod
    def _frame(spark, rows):
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            rows, "event_time STRING, product_id INT, price DOUBLE"
        ).withColumn("event_time", F.to_timestamp("event_time"))

    def _build_table(self, spark, path):
        from kafka_clickhouse_pipeline_spark.streaming.sink import (
            idempotent_batch_writer,
        )

        writer = idempotent_batch_writer(path, target_files=2)
        for b in range(6):  # 12 files into 202401
            writer(self._frame(spark, [
                (f"2024-01-{10 + b:02d} 00:00:00", b * 10 + i, 1.0)
                for i in range(5)
            ]), b)
        writer(self._frame(spark, [("2024-02-01 00:00:00", 999, 2.0)]), 100)

    @staticmethod
    @contextlib.contextmanager
    def _crash_at_marker():
        """Every backend raises on a ``_compactions`` marker write: a
        partition replace crashes after publishing, before its marker."""
        real_backend = commit._backend

        class _MarkerCrash:
            def __init__(self, fs):
                self._fs = fs

            def __getattr__(self, n):
                return getattr(self._fs, n)

            def write_text(self, p, text):
                if "_compactions" in p:
                    raise RuntimeError("crash before compaction marker")
                return self._fs.write_text(p, text)

        def crashing(p, spark=None):
            fs, pp = real_backend(p, spark)
            return _MarkerCrash(fs), pp

        commit._backend = crashing
        try:
            yield
        finally:
            commit._backend = real_backend

    @staticmethod
    def _rows(df):
        return sorted(
            (r["product_id"], str(r["event_time"])) for r in df.collect()
        )

    def test_reader_exact_once_through_crash_and_lag(
        self, spark, tmp_path, lag_fs
    ):
        """Crash between publish and marker -> reader sees the OLD
        files only; replay inside the lag window converges (fresh
        staged names, no rename collision); after the marker the
        reader resolves the NEW files from the manifest even while
        LIST still hides them; a later sweep removes the crashed
        attempt's orphans so even a plain directory read converges."""
        import glob as g

        from kafka_clickhouse_pipeline_spark.streaming import sink

        settle = lag_fs
        path = str(tmp_path / "table")
        self._build_table(spark, path)
        # the batch writer publishes through the lagged store too;
        # compaction starts from a table the store has settled
        settle()
        before = self._rows(spark.read.parquet(path))
        assert self._rows(sink.read_table(spark, path)) == before

        # crash the first attempt at the marker write (publish done)
        with self._crash_at_marker(), pytest.raises(
            RuntimeError, match="crash before"
        ):
            sink.compact_partitions(
                spark, path, max_files_per_partition=8, target_files=2
            )

        # half-published state exists on disk (raw glob, not the lagged
        # backend)...
        orphans = g.glob(
            os.path.join(path, "event_month=202401", "c0-*.parquet")
        )
        assert orphans, "publish must have landed c0-* files"
        # ...but the reader sees the OLD rows exactly once (no marker)
        assert self._rows(sink.read_table(spark, path)) == before

        # replay INSIDE the lag window (sweep cannot LIST the orphans;
        # fresh staged names mean no rename collision) -> converges
        compacted = sink.compact_partitions(
            spark, path, max_files_per_partition=8, target_files=2
        )
        assert compacted == ["202401"]
        # marker committed; old files GC'd (GET-consistent deletes);
        # the new files are still LIST-hidden -- a listing-based reader
        # would see an EMPTY january here:
        fs, p = commit._backend(path)
        assert [
            f
            for f in fs.glob(
                os.path.join(p, "event_month=202401", "*.parquet")
            )
            if "c0-" not in f
        ] == []
        # ...the manifest-resolved reader sees every row exactly once
        assert self._rows(sink.read_table(spark, path)) == before

        # store settles: reader unchanged; one more maintenance pass
        # sweeps the crashed attempt's orphans, after which even a
        # plain directory read agrees
        settle()
        assert self._rows(sink.read_table(spark, path)) == before
        assert (
            sink.compact_partitions(
                spark, path, max_files_per_partition=8, target_files=2
            )
            == []
        )
        assert self._rows(spark.read.parquet(path)) == before
        jan = g.glob(os.path.join(path, "event_month=202401", "*.parquet"))
        assert len(jan) <= 2, jan

    @pytest.mark.parametrize("replace", ["compact", "overwrite"])
    def test_detach_first_is_a_checked_invariant(self, spark, tmp_path, replace):
        from kafka_clickhouse_pipeline_spark.streaming import sink

        path = str(tmp_path / "table")
        self._build_table(spark, path)
        # a batch writer's staging dir = writer attached or crashed
        os.makedirs(os.path.join(path, "_staging", "7"))
        with pytest.raises(RuntimeError, match="DETACH"):
            if replace == "compact":
                sink.compact_partitions(spark, path)
            else:
                jan = [("2024-01-20 00:00:00", 500, 3.0)]
                sink.overwrite_partitions(self._frame(spark, jan), path)

    def test_overwrite_crash_before_marker_then_replay(self, spark, tmp_path):
        """overwrite_partitions crashing between publish and marker: the
        reader sees the old rows exactly once, and the replay sweeps the
        crashed attempt's files and commits the new rows once."""
        import glob as g

        from kafka_clickhouse_pipeline_spark.streaming import sink

        path = str(tmp_path / "table")
        self._build_table(spark, path)
        before = self._rows(sink.read_table(spark, path))
        jan = self._frame(spark, [
            ("2024-01-20 00:00:00", 500 + i, 3.0) for i in range(3)
        ])
        with self._crash_at_marker(), pytest.raises(
            RuntimeError, match="crash before"
        ):
            sink.overwrite_partitions(jan, path, target_files=2)
        assert g.glob(os.path.join(path, "event_month=202401", "c0-*.parquet"))
        assert self._rows(sink.read_table(spark, path)) == before

        sink.overwrite_partitions(jan, path, target_files=2)
        after = sorted(self._rows(jan) + [r for r in before if r[0] == 999])
        assert self._rows(sink.read_table(spark, path)) == after
        assert self._rows(spark.read.parquet(path)) == after

    @pytest.mark.parametrize("backend", ["local", "hadoop_fs"])
    def test_overwrite_after_compaction_reads_each_row_once(
        self, backend, request, spark, tmp_path
    ):
        """Compact a month, overwrite it, land one more batch: the
        reader and a second compaction see every row exactly once (the
        overwrite supersedes the compacted files by marker, so no
        committed manifest names a deleted file)."""
        from kafka_clickhouse_pipeline_spark.streaming import sink

        _use_backend(request, backend)
        path = str(tmp_path / "table")
        self._build_table(spark, path)
        assert sink.compact_partitions(
            spark, path, max_files_per_partition=8, target_files=2
        ) == ["202401"]
        jan = self._frame(spark, [
            ("2024-01-20 00:00:00", 500 + i, 3.0) for i in range(3)
        ])
        sink.overwrite_partitions(jan, path, target_files=2)
        late = self._frame(spark, [("2024-01-25 00:00:00", 700, 4.0)])
        sink.idempotent_batch_writer(path, target_files=2)(late, 6)
        expected = sorted(
            self._rows(jan) + self._rows(late) + [(999, "2024-02-01 00:00:00")]
        )
        assert self._rows(sink.read_table(spark, path)) == expected
        assert sink.compact_partitions(
            spark, path, max_files_per_partition=1, target_files=1
        ) == ["202401"]
        assert self._rows(sink.read_table(spark, path)) == expected
        assert self._rows(spark.read.parquet(path)) == expected

    @pytest.mark.parametrize(
        "text",
        ["committed", '{"v": 1}', '{"v": 1, "partitions": []}'],
        ids=["text", "no_partitions", "partitions_list"],
    )
    def test_malformed_compaction_marker_raises_naming_its_path(
        self, spark, tmp_path, text
    ):
        """A ``_compactions`` marker that is not a v1 manifest is an
        error naming the marker file, for readers and the compactor."""
        from kafka_clickhouse_pipeline_spark.streaming import sink

        path = str(tmp_path / "table")
        marker = os.path.join(path, "_compactions", "0")
        _touch(marker, text)
        with pytest.raises(ValueError, match=re.escape(repr(marker))):
            sink.read_table(spark, path)
        with pytest.raises(ValueError, match=re.escape(repr(marker))):
            sink.compact_partitions(spark, path)

    def test_null_partition_never_compacted(self, spark, tmp_path):
        """Unparseable-event_time rows land in the null partition; the
        compactor must skip it (its rows are a diagnostic stash and
        event_month cannot be re-derived for them)."""
        from pyspark.sql import functions as F

        from kafka_clickhouse_pipeline_spark.streaming.sink import (
            compact_partitions,
            idempotent_batch_writer,
            read_table,
        )

        path = str(tmp_path / "table")
        writer = idempotent_batch_writer(path, target_files=2)
        for b in range(6):
            df = spark.createDataFrame(
                [(None, b * 10 + i, 1.0) for i in range(5)],
                "event_time STRING, product_id INT, price DOUBLE",
            ).withColumn("event_time", F.to_timestamp("event_time"))
            writer(df, b)
        assert compact_partitions(spark, path, max_files_per_partition=2) == []
        assert read_table(spark, path).count() == 30


class TestCommittedOnlyReaders:
    """commit.read_state shows a reader every file a committed batch
    published and nothing else: a batch published but not yet marked
    (a crash between publish_staged and write_marker) stays invisible
    until its replay commits it. A missing state path reads as empty;
    any other read failure propagates."""

    @staticmethod
    def _batches(spark, state):
        import datetime

        if state == "drift":
            from kafka_clickhouse_pipeline_spark.streaming.drift import (
                drift_writer as writer,
                read_bin_counts as read,
            )

            schema = "event_id BIGINT, ts TIMESTAMP, value DOUBLE"
            ts = datetime.datetime(2024, 1, 2)
            rows = [[(1, ts, 5.0)], [(2, ts, 30.0)]]
        else:
            from kafka_clickhouse_pipeline_spark.streaming.mixture import (
                mixture_writer as writer,
                read_counts as read,
            )

            schema = "doc_id BIGINT, text STRING, source STRING"
            rows = [[(1, "a b c", "s1")], [(2, "d e", "s2")]]
        batches = [spark.createDataFrame(r, schema) for r in rows]
        return writer, read, batches

    @pytest.mark.parametrize("backend", ["local", "hadoop_fs"])
    @pytest.mark.parametrize("state", ["drift", "mixture"])
    def test_uncommitted_batch_is_hidden_until_replay(
        self, state, backend, request, spark, tmp_path
    ):
        _use_backend(request, backend)
        writer, read, (b0, b1) = self._batches(spark, state)
        path = str(tmp_path / "state")
        w = writer(path)

        def counts():
            return sorted(tuple(r) for r in read(spark, path).collect())

        w(b0, 0)
        batch0 = counts()
        assert batch0  # the committed batch is visible
        # crash window: batch 1 published, marker not yet written
        w(b1, 1)
        both = counts()
        os.remove(commit.marker_path(path, 1))
        assert any(f.startswith("b1-") for f in os.listdir(path))
        assert commit.latest_committed(path) == 0
        assert counts() == batch0
        w(b1, 1)  # the replay commits it
        assert counts() == both != batch0

    @pytest.mark.parametrize("backend", ["local", "hadoop_fs"])
    def test_mv_table_reader_hides_a_pending_batch_until_replay(
        self, backend, request, spark, tmp_path
    ):
        """``sink.read_table`` over both multiplexed MV tables: a batch
        published but not marked is hidden from both (the stock table
        reads its markers from the sales table), and after its replay
        every row is seen exactly once, also after the stock table is
        compacted."""
        import json

        from kafka_clickhouse_pipeline_spark.sources.kafka import (
            parse_json_payload,
        )
        from kafka_clickhouse_pipeline_spark.streaming import sink
        from kafka_clickhouse_pipeline_spark.streaming.ingest import (
            MERGED_RAW_SCHEMA,
            multiplexed_file_pipeline,
        )

        _use_backend(request, backend)
        sales, stock = str(tmp_path / "sales"), str(tmp_path / "stock")
        route = multiplexed_file_pipeline(
            spark, str(tmp_path / "in"), sales, stock, str(tmp_path / "ckpt")
        ).definitions["multiplex_mv"].foreach_batch

        def batch(b):
            lines = tmp_path / f"batch{b}.jsonl"
            lines.write_text("".join(json.dumps(ev) + "\n" for ev in (
                {"event_id": f"s{b}", "event_type": "sale",
                 "event_time": f"2024-0{b + 1}-15 10:00:00", "product_id": b,
                 "price": 10.0, "discount": 0.0, "total": 10.0},
                {"event_id": f"w{b}", "event_type": "stock_movement",
                 "event_time": f"2024-0{b + 1}-15 11:00:00", "product_id": b,
                 "quantity": 5, "movement_type": "supply"},
            )))
            return parse_json_payload(spark.read.text(str(lines)), MERGED_RAW_SCHEMA)

        def seen():
            return (
                sorted(r.event_id for r in sink.read_table(spark, sales).collect()),
                sorted(r.event_id for r in sink.read_table(
                    spark, stock, marker_dir=sales).collect()),
            )

        route(batch(0), 0)
        assert seen() == (["s0"], ["w0"])
        # crash window: batch 1 published into both tables, not marked
        route(batch(1), 1)
        os.remove(commit.marker_path(sales, 1))
        assert any(f.startswith("b1-") for f in os.listdir(
            os.path.join(stock, "event_month=202402")))
        assert seen() == (["s0"], ["w0"])
        route(batch(1), 1)  # the replay commits it
        assert seen() == (["s0", "s1"], ["w0", "w1"])
        # compaction finds the stock table's batches through the same markers
        assert sink.compact_partitions(
            spark, stock, max_files_per_partition=0, target_files=1, marker_dir=sales
        ) == ["202401", "202402"]
        assert seen() == (["s0", "s1"], ["w0", "w1"])

    def test_unmarked_index_file_does_not_suppress_a_fresh_doc(
        self, spark, tmp_path
    ):
        from pyspark.sql import functions as F

        from kafka_clickhouse_pipeline_spark.streaming.incremental_dedup import (
            fingerprint,
            incremental_dedup_writer,
        )

        schema = "doc_id BIGINT, text STRING, source STRING"
        out, idx = str(tmp_path / "docs"), str(tmp_path / "index")
        writer = incremental_dedup_writer(out, idx)
        writer(spark.createDataFrame([(1, "old doc", "s")], schema), 0)
        # a stray b9-* index file whose batch never committed, holding
        # the fingerprint of the document batch 10 brings
        stray = str(tmp_path / "stray")
        spark.createDataFrame([("fresh doc",)], "text string").select(
            fingerprint(F.col("text")).alias("fingerprint")
        ).coalesce(1).write.parquet(stray)
        part = next(f for f in os.listdir(stray) if f.endswith(".parquet"))
        os.rename(os.path.join(stray, part), os.path.join(idx, f"b9-{part}"))
        writer(spark.createDataFrame([(2, "fresh doc", "s")], schema), 10)
        kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        assert kept == {1, 2}

    @pytest.mark.parametrize("backend", ["local", "hadoop_fs"])
    def test_missing_path_reads_as_empty(self, backend, request, spark, tmp_path):
        _use_backend(request, backend)
        out = commit.read_state(spark, str(tmp_path / "none"), "x bigint")
        assert out.collect() == []

    @pytest.mark.parametrize("backend", ["local", "hadoop_fs"])
    def test_mv_table_with_no_committed_batch_reads_as_empty(
        self, backend, request, spark, tmp_path
    ):
        """``sink.read_table`` on an MV table whose only batch is
        published but not marked reads as no rows with the table's
        columns, never as a raw read of every file; a missing path
        keeps Spark's PATH_NOT_FOUND."""
        from pyspark.errors import AnalysisException

        from kafka_clickhouse_pipeline_spark.streaming import sink

        _use_backend(request, backend)
        path = str(tmp_path / "table")
        batch = spark.createDataFrame(
            [("2024-01-10 00:00:00", 1)], "event_time STRING, product_id INT"
        ).selectExpr("to_timestamp(event_time) AS event_time", "product_id")
        sink.idempotent_batch_writer(path)(batch, 0)
        os.remove(commit.marker_path(path, 0))
        got = sink.read_table(spark, path)
        assert got.collect() == []
        assert sorted(got.columns) == ["event_month", "event_time", "product_id"]
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            sink.read_table(spark, str(tmp_path / "none"))

    @pytest.mark.parametrize("backend", ["local", "hadoop_fs"])
    def test_unreadable_committed_file_raises(
        self, backend, request, spark, tmp_path
    ):
        """Fail closed: a path that exists and holds a marked batch
        whose file is not parquet must raise, not read as empty."""
        from py4j.protocol import Py4JJavaError

        _use_backend(request, backend)
        path = str(tmp_path / "state")
        _touch(os.path.join(path, "b0-part-0.parquet"), "not parquet")
        commit.write_marker(path, 0, {path: ["b0-part-0.parquet"]})
        with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
            commit.read_state(spark, path, "x bigint").collect()
