"""Streaming sessionization (native session_window): sessions split on
gaps, close when the watermark passes them, merge out-of-order events,
and equal the batch twin q_sessionize."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_clickhouse_pipeline_spark.catalog import load_table
from kafka_clickhouse_pipeline_spark.functions.canon import ts_str
from kafka_clickhouse_pipeline_spark.operators.analytics import (
    ANALYTICS_ORACLES,
    q_sessionize,
)
from kafka_clickhouse_pipeline_spark.streaming.sessions import sessionize_stream

RAW = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _run_sessions(spark, tmp_path, batches, name):
    """Feed each list of events as one micro-batch (one file per
    trigger) through sessionize_stream; return the emitted sessions as
    (user_id, start, end, n_events, revenue) tuples."""
    src = tmp_path / "in"
    src.mkdir()
    for i, evs in enumerate(batches):
        with open(src / f"b{i:03d}.jsonl", "w") as f:
            for ev in evs:
                f.write(json.dumps(ev) + "\n")
        time.sleep(1.05)

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
        .select(F.from_json("value", RAW).alias("d"))
        .select("d.user_id", "d.event_id", F.col("d.ts").cast("timestamp").alias("ts"), "d.value")
    )
    q = (
        sessionize_stream(raw)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    rows = spark.sql(f"SELECT * FROM {name} ORDER BY user_id, session_start").collect()
    return [
        (r.user_id, r.session_start.isoformat(), r.session_end.isoformat(), r.n_events, r.revenue)
        for r in rows
    ]


def test_stateful_sessionization(spark, tmp_path):
    batches = [
        # user 1: two events 10 min apart (one session); user 2: one event
        [
            {"user_id": 1, "event_id": 1, "ts": "2024-01-15 10:00:00", "value": 5.0},
            {"user_id": 1, "event_id": 2, "ts": "2024-01-15 10:10:00", "value": 7.0},
            {"user_id": 2, "event_id": 3, "ts": "2024-01-15 10:05:00", "value": 1.0},
        ],
        # user 1 again 2h later -> gap splits: first session closes,
        # new one opens; watermark (max ts - 30m) also passes session 1
        [
            {"user_id": 1, "event_id": 4, "ts": "2024-01-15 12:30:00", "value": 2.0},
        ],
        # advance watermark far enough to time out everything
        [
            {"user_id": 3, "event_id": 5, "ts": "2024-01-15 18:00:00", "value": 9.0},
        ],
        [
            {"user_id": 3, "event_id": 6, "ts": "2024-01-15 23:00:00", "value": 4.0},
        ],
    ]
    got = _run_sessions(spark, tmp_path, batches, "sessions_sink")
    # user 1 session 1: 10:00-10:10, 2 events, 12.0 ; user 2: single event
    assert (1, "2024-01-15T10:00:00", "2024-01-15T10:10:00", 2, 12.0) in got
    assert (2, "2024-01-15T10:05:00", "2024-01-15T10:05:00", 1, 1.0) in got
    # user 1 session 2 (12:30) closes once watermark reaches 18:00-30m
    assert (1, "2024-01-15T12:30:00", "2024-01-15T12:30:00", 1, 2.0) in got
    # user 3's 18:00 session closes after the 23:00 batch advances the watermark
    assert (3, "2024-01-15T18:00:00", "2024-01-15T18:00:00", 1, 9.0) in got


def test_out_of_order_event_joins_its_session(spark, tmp_path):
    """An event the watermark still admits but that is older than the
    user's latest event (10:40 after 11:00) must land in the session it
    belongs to, which then spans 10:40-11:00; it must not move the end
    before the start."""
    batches = [
        [{"user_id": 1, "event_id": 1, "ts": "2024-01-15 10:00:00", "value": 5.0}],
        [{"user_id": 1, "event_id": 2, "ts": "2024-01-15 11:00:00", "value": 3.0}],
        # watermark is 11:00 - 30m = 10:30, so 10:40 is late but admitted
        [{"user_id": 1, "event_id": 3, "ts": "2024-01-15 10:40:00", "value": 5.0}],
        # advance the watermark past every user-1 session
        [{"user_id": 2, "event_id": 4, "ts": "2024-01-15 18:00:00", "value": 1.0}],
        [{"user_id": 2, "event_id": 5, "ts": "2024-01-15 23:00:00", "value": 1.0}],
    ]
    got = _run_sessions(spark, tmp_path, batches, "out_of_order_sessions_sink")
    user1 = [g for g in got if g[0] == 1]
    assert user1 == [
        (1, "2024-01-15T10:00:00", "2024-01-15T10:00:00", 1, 5.0),
        (1, "2024-01-15T10:40:00", "2024-01-15T11:00:00", 2, 8.0),
    ]


def test_stream_sessions_equal_batch_twin(spark, sf_dir):
    """Over the batch events fixture, sessionize_stream's sessions are
    q_sessionize's: same user, start, end, event count and revenue (to
    the cent; the stream sums doubles, the batch sums decimals)."""
    stream = sessionize_stream(load_table(spark, sf_dir, "events")).select(
        "user_id",
        ts_str("session_start").alias("session_start"),
        ts_str("session_end").alias("session_end"),
        "n_events",
        "revenue",
    )
    batch = q_sessionize(spark, sf_dir)

    def key(rows):
        return sorted(
            (r.user_id, r.session_start, r.session_end, int(r.n_events), round(float(r.revenue), 2))
            for r in rows
        )

    want = key(batch.collect())
    assert want  # the fixture has sessions to compare
    assert key(stream.collect()) == want


def test_gap_of_exactly_the_session_gap_stays_in_the_session(spark):
    """The boundary rule of q_sessionize's ``gap > 1800``: 30:00 after
    the last event joins its session, 30:00.000001 opens a new one."""
    events = spark.createDataFrame(
        [
            (1, 1, "2024-01-15 10:00:00", 1.0),
            (1, 2, "2024-01-15 10:30:00", 2.0),
            (1, 3, "2024-01-15 11:00:00.000001", None),
        ],
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = [
        (r.session_start.isoformat(), r.session_end.isoformat(), r.n_events, r.revenue)
        for r in sessionize_stream(events).orderBy("session_start").collect()
    ]
    assert got == [
        ("2024-01-15T10:00:00", "2024-01-15T10:30:00", 2, 3.0),
        # a null value counts as 0 revenue
        ("2024-01-15T11:00:00.000001", "2024-01-15T11:00:00.000001", 1, 0.0),
    ]


def test_sub_second_gap_splits_batch_twin_and_stream(spark, tmp_path):
    """A gap of 30:00.5 opens a new session in q_sessionize, in its
    DuckDB twin and in sessionize_stream alike: all three measure the
    gap in microseconds, not between whole-second floors (whose
    difference here is exactly 1800 s)."""
    from datetime import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "events.parquet"
    # nanosecond timestamps, as in the events fixture
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([1, 1], pa.int64()),
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(
                    [datetime(2024, 1, 15, 10, 0), datetime(2024, 1, 15, 10, 30, 0, 500000)],
                    pa.timestamp("ns"),
                ),
                "value": pa.array([1.0, 2.0]),
            }
        ),
        path,
    )
    want = [
        ("2024-01-15 10:00:00", "2024-01-15 10:00:00", 1),
        ("2024-01-15 10:30:00", "2024-01-15 10:30:00", 1),
    ]
    batch = q_sessionize(spark, str(tmp_path)).collect()
    assert [(r.session_start, r.session_end, r.n_events) for r in batch] == want

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(ANALYTICS_ORACLES["q_sessionize"])
        cols = [d[0] for d in res.description]
        twin = [dict(zip(cols, r)) for r in res.fetchall()]
    finally:
        con.close()
    assert [(r["session_start"], r["session_end"], r["n_events"]) for r in twin] == want

    stream = sessionize_stream(load_table(spark, str(tmp_path), "events")).select(
        ts_str("session_start").alias("session_start"),
        ts_str("session_end").alias("session_end"),
        "n_events",
    )
    assert sorted(tuple(r) for r in stream.collect()) == want
