"""Incremental windowed-funnel maintenance: the streaming twin of
``analytics.q_funnel_window``. Per micro-batch, the retained recent
events (every funnel-step event within the trailing 24h chain window
of each user's latest seen event) are unioned with the batch and the
BATCH funnel's own two range-window passes run over that union -- the
streaming operator literally reuses the batch chain logic, so the two
can never drift (the incremental-dedup "pure transform twin" design).
Per-user step flags are monotone ORs across batches.

State architecture: replace-per-batch table under the shared
staged-commit protocol (streaming/commit.py state_writer; any path
commit.py routes, local or a Hadoop FileSystem scheme). State per
user is the (user_id, et, t) events inside the trailing
FUNNEL_WINDOW_US of that user's max seen t, plus one flags row --
bounded by per-user 24h activity, independent of stream length.

Correctness contract: exact for event-time-ordered arrival ACROSS
batches (any order within a batch is fine -- the range windows sort).
An event arriving after its user's state has advanced more than the
chain window past it is treated as too-late and cannot anchor new
chains -- a per-user trailing watermark; completed flags are never
lost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.analytics import FUNNEL_STEPS, FUNNEL_WINDOW_US
from .commit import read_latest_state, state_writer

#: Retained-event rows: et NULL marks the per-user flags row, whose
#: t packs nothing and whose l1/l2/l3 carry the monotone step flags.
FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("et", StringType(), True),
        StructField("t", LongType(), False),
        StructField("l1", LongType(), False),
        StructField("l2", LongType(), False),
        StructField("l3", LongType(), False),
    ]
)


def read_state(spark, state_path: str) -> DataFrame:
    return read_latest_state(spark, state_path, FUNNEL_STATE_SCHEMA)


def _levels_over(events: DataFrame) -> DataFrame:
    """Per-user l1/l2/l3 over one (user_id, et, t) frame -- the exact
    windowed-chain logic of analytics.q_funnel_window, factored over
    pre-extracted integer-microsecond rows."""
    from pyspark.sql.window import Window

    w_range = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-FUNNEL_WINDOW_US, -1)
    )
    anchored = events.withColumn(
        "view_anchor",
        F.max(F.when(F.col("et") == FUNNEL_STEPS[0], F.col("t"))).over(w_range),
    ).withColumn(
        "click_anchor",
        F.when(
            (F.col("et") == FUNNEL_STEPS[1]) & F.col("view_anchor").isNotNull(),
            F.col("view_anchor"),
        ),
    )
    scored = anchored.withColumn(
        "best_click_anchor", F.max("click_anchor").over(w_range)
    )
    return scored.groupBy("user_id").agg(
        F.max(F.when(F.col("et") == FUNNEL_STEPS[0], 1).otherwise(0))
        .cast("long")
        .alias("l1"),
        F.max(F.when(F.col("click_anchor").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("l2"),
        F.max(
            F.when(
                (F.col("et") == FUNNEL_STEPS[2])
                & (F.col("best_click_anchor") >= F.col("t") - FUNNEL_WINDOW_US),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("l3"),
    )


def merge_batch(prior: DataFrame, batch: DataFrame) -> DataFrame:
    """New state from prior state + one micro-batch of raw events:
    retained events ∪ batch -> levels, OR'd with prior flags; events
    older than (per-user max t - window) age out."""
    batch_events = batch.filter(
        F.col("event_type").isin(*FUNNEL_STEPS)
    ).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("et"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    prior_events = prior.filter(F.col("et").isNotNull()).select(
        "user_id", "et", "t"
    )
    prior_flags = prior.filter(F.col("et").isNull()).select(
        "user_id", "l1", "l2", "l3"
    )
    all_events = prior_events.unionByName(batch_events)
    levels = _levels_over(all_events)
    flags = (
        levels.join(prior_flags.withColumnRenamed("l1", "p1")
                    .withColumnRenamed("l2", "p2")
                    .withColumnRenamed("l3", "p3"), "user_id", "full_outer")
        .select(
            "user_id",
            F.greatest(F.coalesce("l1", F.lit(0)), F.coalesce("p1", F.lit(0))).alias("l1"),
            F.greatest(F.coalesce("l2", F.lit(0)), F.coalesce("p2", F.lit(0))).alias("l2"),
            F.greatest(F.coalesce("l3", F.lit(0)), F.coalesce("p3", F.lit(0))).alias("l3"),
        )
    )
    from pyspark.sql.window import Window

    w_user = Window.partitionBy("user_id")
    retained = (
        all_events.withColumn("mx", F.max("t").over(w_user))
        .filter(F.col("t") >= F.col("mx") - FUNNEL_WINDOW_US)
        .select(
            "user_id",
            "et",
            "t",
            F.lit(0).cast("long").alias("l1"),
            F.lit(0).cast("long").alias("l2"),
            F.lit(0).cast("long").alias("l3"),
        )
    )
    flag_rows = flags.select(
        "user_id",
        F.lit(None).cast("string").alias("et"),
        F.lit(0).cast("long").alias("t"),
        "l1",
        "l2",
        "l3",
    )
    return retained.unionByName(flag_rows)


def funnel_writer(state_path: str):
    """foreachBatch function: effectively-once replace-style update of
    the per-user funnel state (protocol enforced by
    commit.state_writer)."""
    return state_writer(
        state_path, lambda b: merge_batch(read_state(b.sparkSession, state_path), b)
    )


def current_funnel(spark, state_path: str) -> DataFrame:
    """The q_funnel_window-shaped report (step, event_type, n_users
    at least that deep) from the maintained flags."""
    flags = read_state(spark, state_path).filter(F.col("et").isNull())
    counts = flags.agg(
        F.coalesce(F.sum("l1"), F.lit(0)).cast("long").alias("n1"),
        F.coalesce(F.sum("l2"), F.lit(0)).cast("long").alias("n2"),
        F.coalesce(F.sum("l3"), F.lit(0)).cast("long").alias("n3"),
    )
    steps = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(FUNNEL_STEPS)],
        "step bigint, event_type string",
    )
    return (
        steps.crossJoin(F.broadcast(counts))
        .select(
            "step",
            "event_type",
            F.when(F.col("step") == 1, F.col("n1"))
            .when(F.col("step") == 2, F.col("n2"))
            .otherwise(F.col("n3"))
            .alias("n_users"),
        )
        .orderBy("step")
    )


def funnel_stream(events_stream: DataFrame, state_path: str, checkpoint: str):
    """writeStream wiring: event stream -> funnel state sink."""
    return events_stream.writeStream.foreachBatch(
        funnel_writer(state_path)
    ).option("checkpointLocation", checkpoint)
