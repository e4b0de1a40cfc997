"""Incremental distribution-drift monitoring: a persistent per-bin
count state updated per micro-batch, from which the Population
Stability Index of the STREAMED distribution against any reference
distribution can be computed at any moment without re-reading the
stream's history.

Same state architecture as the mixture-weight maintainer
(streaming/mixture.py): PSI couples every bin through the totals, so
a per-key state operator cannot compute it -- the state is a tiny
append-only delta table (one (bin, n) delta file per micro-batch)
published under the staged-commit protocol (streaming/commit.py), so
replayed batch ids are no-ops and half-published deltas are swept:
effectively-once counting on top of foreachBatch's at-least-once.

``current_psi`` runs the SAME ``operators.advanced.psi_table`` core
the batch operator (q_psi_value_drift) uses, with the reference counts
as the 'first' side and the streamed counts as the 'second' -- the
monitoring answer and the batch answer cannot drift because they share
the code.

Scale: state is O(bins x batches) rows of two columns; each batch adds
one aggregation over the micro-batch only.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .commit import read_state, state_writer

BIN_COUNTS_SCHEMA = StructType(
    [
        StructField("bin", StringType(), False),
        StructField("n", LongType(), False),
    ]
)


def batch_bin_counts(batch: DataFrame) -> DataFrame:
    """Per-bin value counts of one micro-batch -- the identical binning
    expression q_psi_value_drift uses."""
    from ..operators.advanced import _psi_bin_spark

    return (
        batch.filter(F.col("value").isNotNull())
        .select(_psi_bin_spark().alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def read_bin_counts(spark, state_path: str) -> DataFrame:
    """Cumulative per-bin counts: the sum of every committed delta file
    (commit.read_state: missing path = empty state)."""
    deltas = read_state(spark, state_path, BIN_COUNTS_SCHEMA)
    return deltas.groupBy("bin").agg(F.sum("n").alias("n"))


def _bin_counts_vs(spark, state_path: str, reference: DataFrame) -> DataFrame:
    """(bin, n_first, n_second): reference counts against the streamed
    counts, 0 where a side has no row for the bin."""
    ref = reference.select("bin", F.col("n").cast("long").alias("n_first"))
    cur = read_bin_counts(spark, state_path).select(
        "bin", F.col("n").cast("long").alias("n_second")
    )
    return ref.join(cur, "bin", "full_outer").select(
        "bin",
        F.coalesce("n_first", F.lit(0)).alias("n_first"),
        F.coalesce("n_second", F.lit(0)).alias("n_second"),
    )


def current_psi(spark, state_path: str, reference: DataFrame) -> DataFrame:
    """PSI table of the streamed distribution (second side) against a
    reference distribution (first side: (bin, n) counts, e.g. the
    training-time snapshot). Shares ``psi_table`` with the batch
    operator."""
    from ..operators.advanced import psi_table

    return psi_table(_bin_counts_vs(spark, state_path, reference))


def drift_writer(state_path: str):
    """foreachBatch function: effectively-once append of this batch's
    per-bin count delta to the state table."""
    return state_writer(state_path, batch_bin_counts)


def drift_stream(events_stream: DataFrame, state_path: str, checkpoint: str):
    """writeStream wiring: event stream -> drift-state sink."""
    return events_stream.writeStream.foreachBatch(
        drift_writer(state_path)
    ).option("checkpointLocation", checkpoint)


def current_ks(spark, state_path: str, reference: DataFrame) -> DataFrame:
    """Binned KS of the streamed distribution against the reference --
    the binning-free-ish companion readout to ``current_psi`` over the
    SAME persistent state (no extra stream pass, no extra state).
    Shares ``ks_binned_table`` with the batch module so the monitor
    and any batch re-check agree bin-for-bin."""
    from ..operators.advanced import ks_binned_table

    return ks_binned_table(_bin_counts_vs(spark, state_path, reference))
