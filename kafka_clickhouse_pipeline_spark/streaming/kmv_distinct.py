"""Incremental distinct-count maintenance: a bounded KMV (k minimum
values / bottom-k) sketch per group updated per micro-batch, from which
the current distinct-user estimate per event type can be read at any
moment without re-scanning the stream's history -- the streaming twin
of the batch operator ``advanced.q_distinct_kmv`` (same md5-hex32 hash,
same (K-1)/u_K estimator, same K).

Why KMV and not HLL here: KMV is mergeable with a trivially verifiable
invariant -- bottom-K of a union equals bottom-K of the union of
bottom-Ks -- so the maintained state is BIT-EQUAL to what the batch
operator computes over the concatenated history. The streaming estimate
can therefore be cross-checked exactly in tests (and against the batch
oracle), where HLL register equality is engine-internal.

State architecture: like the heavy-hitters summary the state is a tiny
REPLACED-PER-BATCH table (<= groups x K hash rows) published under the
staged-commit protocol (streaming/commit.py) with batch-id-prefixed
files; readers take the files of the latest committed batch only.
Replays are no-ops, half-published attempts are swept -- effectively-
once on top of foreachBatch's at-least-once.

Scale: per batch, one micro-batch-sized distinct plus a bottom-K merge
over <= (K + batch-distinct) rows per group; state on disk is
O(groups x K) regardless of stream length; nothing ever reaches the
driver but loop control.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.advanced import KMV_K, _kmv_hex32
from ..operators.topk import grouped_topk
from .commit import read_latest_state, state_writer

SKETCH_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), False),
        StructField("hv", LongType(), False),
    ]
)


def read_sketch(spark, state_path: str) -> DataFrame:
    """The latest committed per-group bottom-K hash table; empty frame
    when no batch has committed yet. Replace-style state on any path
    streaming/commit.py routes (local or a Hadoop FileSystem scheme)."""
    return read_latest_state(spark, state_path, SKETCH_SCHEMA)


def batch_hashes(batch: DataFrame) -> DataFrame:
    """(event_type, hv) distinct hash rows for one micro-batch of
    events -- the identical md5-hex32 decode the batch operator uses."""
    return batch.select(
        "event_type", _kmv_hex32("user_id").alias("hv")
    ).distinct()


def merge_bottom_k(
    prior: DataFrame, batch_hv: DataFrame, k: int = KMV_K
) -> DataFrame:
    """KMV merge: union the prior sketch with the batch's hash rows,
    dedupe, and keep the K smallest hashes per group. Because bottom-K
    is a pure function of the distinct hash SET, the merged sketch
    equals the batch-operator sketch over the full history -- the
    mergeability invariant the tests pin. Map-side pruned
    (grouped_topk), counters never reach the driver."""
    merged = prior.unionByName(batch_hv).distinct()
    return grouped_topk(merged, ["event_type"], [("hv", True)], k).select(
        "event_type", "hv"
    )


def kmv_writer(state_path: str, k: int = KMV_K):
    """foreachBatch function: effectively-once replace-style update of
    the per-group KMV sketch state."""
    return state_writer(
        state_path,
        lambda b: merge_bottom_k(
            read_sketch(b.sparkSession, state_path), batch_hashes(b), k
        ),
    )


def current_distinct_estimates(spark, state_path: str, k: int = KMV_K) -> DataFrame:
    """Per-group distinct estimate from the maintained sketch: exact
    n_kept when the group holds fewer than K hashes, (K-1)/u_K
    otherwise -- the q_distinct_kmv estimator over the streaming
    state."""
    s = read_sketch(spark, state_path)
    kth = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("hv").cast("long").alias("kth_hv"),
    )
    est = F.when(
        F.col("n_kept") < F.lit(k), F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        / ((F.col("kth_hv").cast("double") + F.lit(0.5)) / F.lit(4294967296.0))
    )
    return kth.select(
        "event_type",
        "n_kept",
        F.round(est, 2).alias("distinct_estimate"),
    ).orderBy("event_type")


def kmv_distinct_stream(events_stream: DataFrame, state_path: str, checkpoint: str):
    """writeStream wiring: event stream -> KMV sketch state sink."""
    return events_stream.writeStream.foreachBatch(kmv_writer(state_path)).option(
        "checkpointLocation", checkpoint
    )
