"""Streaming gap sessionization on Spark's native ``session_window``.

Semantics match the batch twin (operators.analytics.q_sessionize): a
session is a maximal run of a user's events with inter-event gaps <=
GAP_SECONDS (a gap of exactly 30:00 stays in the session; 30:00.000001
splits it). A session is emitted once, in append mode, when the
event-time watermark passes its last event + GAP_SECONDS.

The engine's streaming aggregation keeps the state: each user's open
sessions, merged as events arrive in any order the watermark still
admits, so an out-of-order event extends, joins or splits sessions as
it would in the batch plan. No Python runs per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GAP_SECONDS = 30 * 60


def sessionize_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """events(user_id, ts, value) stream -> closed-session summaries
    (user_id, session_start, session_end, n_events, revenue), where
    session_end is the session's last event and a null value counts
    as 0 revenue."""
    w = F.session_window("ts", f"{GAP_SECONDS} seconds")
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", w.alias("w"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("revenue"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            (F.col("w.end") - F.expr(f"INTERVAL {GAP_SECONDS} SECONDS")).alias(
                "session_end"
            ),
            "n_events",
            "revenue",
        )
    )
