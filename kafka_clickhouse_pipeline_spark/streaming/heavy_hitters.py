"""Incremental heavy-hitters maintenance: a bounded Misra-Gries term
summary updated per micro-batch, from which the current frequent terms
can be read at any moment without re-scanning the stream's history --
the streaming twin of the batch operator ``text.q_heavy_hitters``
(same MG trim arithmetic, same capacity constant family).

State architecture: like the drift monitor (streaming/drift.py) the
summary couples every term through the trim threshold, so a per-key
state operator cannot maintain it. The state is a tiny REPLACED-PER-
BATCH table: each batch publishes its full merged summary (<= capacity
rows + one total row) under the staged-commit protocol
(streaming/commit.py) with batch-id-prefixed files; readers take the
files of the LATEST committed batch only. Replays are no-ops,
half-published attempts are swept -- effectively-once on top of
foreachBatch's at-least-once.

Guarantee (classic mergeable-summaries result, Agarwal et al. 2013):
each trim subtracts at most (sum of trimmed mass)/(capacity+1) from
every counter, so after any number of batches every stored count is a
LOWER bound on the true count with total undercount <= N/(capacity+1).
``current_heavy_hitters`` therefore never reports a false positive for
the share-> 1/k test, and cannot miss any term with true share
> 1/k + 1/(capacity+1).

Scale: per batch, one micro-batch-sized aggregate plus a merge over
<= (capacity + batch-distinct) rows with ONE bounded driver scalar
(the trim cut); state on disk is O(capacity) rows regardless of stream
length.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .commit import read_latest_state, state_writer

#: Counter budget of the maintained summary (shares the batch
#: operator's headroom rationale, text.py MG_CAPACITY).
STREAM_MG_CAPACITY = 256

SUMMARY_SCHEMA = StructType(
    [
        # term NULL marks the single running-total row
        StructField("term", StringType(), True),
        StructField("cnt", LongType(), False),
    ]
)


def read_summary(spark, state_path: str) -> DataFrame:
    """The latest committed summary (term rows + the NULL-term total
    row); empty frame when no batch has committed yet. Replace-style
    state on any path streaming/commit.py routes (local or a Hadoop
    FileSystem scheme)."""
    return read_latest_state(spark, state_path, SUMMARY_SCHEMA)


def batch_term_counts(batch: DataFrame) -> DataFrame:
    """(term, cnt) for one micro-batch of documents -- the identical
    whitespace tokenization the batch operator uses."""
    return (
        batch.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def merge_and_trim(
    prior: DataFrame, batch_counts: DataFrame, capacity: int = STREAM_MG_CAPACITY
) -> DataFrame:
    """MG merge: sum prior summary and batch counts per term, then --
    if over capacity -- subtract the (capacity+1)-th largest count from
    every counter and drop non-positives (the text.py trim arithmetic).
    The cut is ONE bounded driver scalar (TakeOrdered capacity+1 rows);
    counters never leave the executors. Returns term rows + the updated
    NULL-term total row."""
    spark = prior.sparkSession
    prior_terms = prior.filter(F.col("term").isNotNull())
    prior_total = (
        prior.filter(F.col("term").isNull())
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("t"))
        .first()["t"]
    )
    batch_total = (
        batch_counts.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("t")).first()["t"]
    )
    merged = (
        prior_terms.unionByName(batch_counts)
        .groupBy("term")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    top = merged.orderBy(F.col("cnt").desc(), "term").limit(capacity + 1).collect()
    if len(top) > capacity:
        cut = top[-1]["cnt"]
        merged = merged.select(
            "term", (F.col("cnt") - F.lit(cut)).cast("long").alias("cnt")
        ).filter(F.col("cnt") > 0)
    total_row = spark.createDataFrame(
        [(None, int(prior_total) + int(batch_total))], SUMMARY_SCHEMA
    )
    return merged.select("term", "cnt").unionByName(total_row)


def heavy_hitters_writer(state_path: str, capacity: int = STREAM_MG_CAPACITY):
    """foreachBatch function: effectively-once replace-style update of
    the MG summary state (protocol enforced by
    commit.state_writer)."""
    return state_writer(
        state_path,
        lambda b: merge_and_trim(
            read_summary(b.sparkSession, state_path), batch_term_counts(b), capacity
        ),
    )


def current_heavy_hitters(spark, state_path: str, k: int = 64) -> DataFrame:
    """Terms whose maintained count ALONE exceeds total/k. MG counts
    are lower bounds, so there are NO false positives; any term with
    true share > 1/k + 1/(capacity+1) is guaranteed present."""
    s = read_summary(spark, state_path)
    total = s.filter(F.col("term").isNull()).select(
        F.col("cnt").alias("n_total")
    )
    return (
        s.filter(F.col("term").isNotNull())
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("n_total"))
        .select("term", "cnt", "n_total")
        .orderBy(F.col("cnt").desc(), "term")
    )


def heavy_hitters_stream(docs_stream: DataFrame, state_path: str, checkpoint: str):
    """writeStream wiring: document stream -> MG summary state sink."""
    return docs_stream.writeStream.foreachBatch(
        heavy_hitters_writer(state_path)
    ).option("checkpointLocation", checkpoint)
