"""Streaming latest-wins upsert sink -- the ClickHouse
ReplacingMergeTree analog on the write path.

The reference's target tables are plain MergeTree
(generate_data.py:170,191); ReplacingMergeTree is the engine-family
sibling that collapses re-delivered rows to the newest version at
background-merge time. Structured Streaming has no background merges,
so the collapse happens at sink time: each micro-batch is compacted to
latest-per-key, then merged into a hash-bucketed keyed table,
rewriting ONLY the buckets the batch touches.

Scale design (100 TB table):
- The table is partitioned by a fixed-count hash bucket of the key
  (``pmod(xxhash64(keys), n_buckets)``). A micro-batch touching k keys
  rewrites at most min(k, n_buckets) buckets -- a bounded fraction of
  the table, never a full rewrite. Bucket count is a layout constant
  (like ClickHouse's partition key), sized so one bucket fits an
  executor comfortably.
- The merge itself is the same ``max(struct(version, payload))``
  aggregate as the batch operator ``dedup.q_upsert_latest_wins``:
  partial aggregation map-side, one surviving row per key per mapper.
- Only bucket IDs (ints, <= n_buckets) ever reach the driver.

Delivery semantics: latest-wins merge is idempotent AND convergent --
re-merging already-merged rows is a no-op -- so a replayed micro-batch
(foreachBatch is at-least-once) lands on the same table state without
commit markers. Dynamic partition overwrite swaps each touched bucket
directory at job commit; a crash before commit leaves the previous
bucket contents intact.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lineage import cut_lineage
from . import commit

#: Partition column holding the key hash bucket.
BUCKET_COL = "key_bucket"


def latest_per_key(
    df: DataFrame, keys: Sequence[str], version_cols: Sequence[str]
) -> DataFrame:
    """Collapse ``df`` to its newest row per key: version columns lead
    the comparison struct, remaining columns ride along as payload.
    Column order of ``df`` is preserved in the output."""
    payload = [c for c in df.columns if c not in keys and c not in version_cols]
    m = F.max(F.struct(*version_cols, *payload)).alias("m")
    collapsed = df.groupBy(*[F.col(k) for k in keys]).agg(m)
    return collapsed.select(
        *keys, *[F.col(f"m.{c}").alias(c) for c in (*version_cols, *payload)]
    ).select(*df.columns)


def upsert_batch(
    batch_df: DataFrame,
    path: str,
    keys: Sequence[str],
    version_cols: Sequence[str],
    n_buckets: int = 64,
    target_files_per_bucket: int = 1,
) -> None:
    """Merge one (micro-)batch into the keyed table at ``path`` (a plain
    path or any URI the commit backends route)."""
    spark = batch_df.sparkSession
    upd = latest_per_key(batch_df, keys, version_cols).withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))
    )
    fs, p = commit._backend(path, spark)
    if fs.exists(p):
        touched = [r[0] for r in upd.select(BUCKET_COL).distinct().collect()]
        if not touched:
            return
        current = spark.read.parquet(path).filter(F.col(BUCKET_COL).isin(touched))
        merged = latest_per_key(
            current.unionByName(upd), keys, [*version_cols, BUCKET_COL]
        )
        # version struct gains the bucket col harmlessly: it is
        # key-determined, identical across versions of a key
    else:
        merged = upd
    # cut lineage before overwriting the path we just read
    merged = merged.repartition(
        max(1, target_files_per_bucket), F.col(BUCKET_COL)
    ).transform(cut_lineage)
    # dynamic for this write only: a session-wide conf would be shared
    # with every stream's foreachBatch thread on the same session
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        BUCKET_COL
    ).parquet(path)


def upsert_batch_writer(
    path: str,
    keys: Sequence[str],
    version_cols: Sequence[str],
    n_buckets: int = 64,
    target_files_per_bucket: int = 1,
):
    """foreachBatch callback maintaining the latest-wins table."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        upsert_batch(
            batch_df, path, keys, version_cols, n_buckets, target_files_per_bucket
        )

    return _write


def upsert_stream_to_table(
    df: DataFrame,
    path: str,
    checkpoint: str,
    keys: Sequence[str],
    version_cols: Sequence[str],
    n_buckets: int = 64,
):
    """writeStream maintaining a latest-wins keyed table (attach with
    ``.trigger(availableNow=True).start()`` or a processing-time
    trigger, mirroring the reference's ATTACH)."""
    return df.writeStream.foreachBatch(
        upsert_batch_writer(path, keys, version_cols, n_buckets)
    ).option("checkpointLocation", checkpoint)
