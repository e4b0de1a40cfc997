"""Incremental mixture-weight maintenance: a persistent per-source
token-count state table updated per micro-batch, from which the
temperature-scaled keep-thresholds of the batch operator
(``operators.curation.q_temperature_sample``) can be recomputed at any
moment without re-reading the corpus.

A training-data pipeline resamples its source mixture continuously as
new data lands; the scaling math needs GLOBAL per-source token counts,
which a per-key streaming state operator cannot see (the rule couples
every source through total and max). So the state lives as a tiny
append-only delta table -- one (source, n_tokens) delta file per
micro-batch, published under the same staged-commit protocol as the
incremental dedup writers (streaming/commit.py): replayed batch ids
are no-ops, half-published deltas are swept, so the counts are
effectively-once on top of foreachBatch's at-least-once.

``current_thresholds`` then runs the SAME ``temperature_thresholds``
function the batch operator uses over the summed deltas -- the
streaming state and the batch answer cannot drift because they share
the code.

Scale: the state table is O(sources x batches) rows of two columns
(compact it by summing periodically if batches are tiny); each batch
adds one aggregation over the micro-batch only. Nothing corpus-sized
is ever re-read.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .commit import read_state, state_writer

COUNTS_SCHEMA = StructType(
    [
        StructField("source", StringType(), False),
        StructField("n_tokens", LongType(), False),
    ]
)


def batch_source_counts(batch: DataFrame) -> DataFrame:
    """Per-source token counts of one micro-batch -- the identical
    token metric q_temperature_sample aggregates."""
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return batch.groupBy("source").agg(
        F.sum(n_tokens.cast("long")).alias("n_tokens")
    )


def read_counts(spark, state_path: str) -> DataFrame:
    """Cumulative per-source counts: the sum of every committed delta
    file (commit.read_state: missing path = empty state)."""
    deltas = read_state(spark, state_path, COUNTS_SCHEMA)
    return deltas.groupBy("source").agg(F.sum("n_tokens").alias("n_tokens"))


def current_thresholds(spark, state_path: str) -> DataFrame:
    """(source, keep_threshold) from the current state -- computed by
    the SAME temperature_thresholds code path as the batch operator."""
    from ..operators.curation import temperature_thresholds

    return temperature_thresholds(read_counts(spark, state_path))


def mixture_writer(state_path: str):
    """foreachBatch function: effectively-once append of this batch's
    per-source token-count delta to the state table."""
    return state_writer(state_path, batch_source_counts)


def mixture_stream(docs_stream: DataFrame, state_path: str, checkpoint: str):
    """writeStream wiring: document stream -> mixture-state sink."""
    return docs_stream.writeStream.foreachBatch(
        mixture_writer(state_path)
    ).option("checkpointLocation", checkpoint)
