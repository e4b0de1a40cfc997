"""Incremental exact dedup of a document stream against a persistent
fingerprint index.

The batch operator (``operators.dedup.q_dedup_exact``) answers "which
docs in THIS corpus are duplicates"; a training-data pipeline also
needs the streaming question: "is this NEW document already in the
corpus we ingested last month" -- without re-reading the corpus. Two
complementary mechanisms:

- **Within-run**: Spark's watermarked ``dropDuplicates`` keeps stream
  state for the run (streaming/stateful.py:129).
- **Cross-run / bootstrap** (this module): a persistent fingerprint
  index table. Each micro-batch is (1) deduped within itself, (2)
  anti-joined against the index, and (3) the survivors are appended to
  both the output corpus and the index -- with the same staged-commit
  marker protocol as streaming/sink.py, so batch replays are no-ops.

Fingerprint contract: md5 of whitespace-normalized lowercased text --
IDENTICAL to q_dedup_exact, so the streaming index and the batch
operator agree on what "exact duplicate" means.

Scale shape (100 TB corpus, so ~10^9-10^10 index rows of 32-byte
fingerprints ~ low-TB index):
- The per-batch anti-join shuffles only the micro-batch if the index
  is bucketed by fingerprint (plans/layout.write_bucketed); the batch
  side repartitions into the index's bucketing, each index bucket is
  read by exactly one task, nothing corpus-sized moves.
- A bloom-filter prefilter over the index (bounded bits, rebuilt
  periodically) can drop the no-hit majority of batch rows before the
  exact anti-join; correctness never depends on it, so it is an
  optional accelerator, not implemented here.
- Appends grow the index monotonically; duplicate index entries from
  a replayed-but-uncommitted batch are harmless (anti-join semantics
  are set-membership), the marker protocol prevents them anyway.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def fingerprint(text_col: Column) -> Column:
    """Same normalization as operators.dedup.q_dedup_exact."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text_col), r"\s+", " ")))


INDEX_SCHEMA = StructType([StructField("fingerprint", StringType(), False)])


def dedup_batch_against_index(batch: DataFrame, index: DataFrame) -> DataFrame:
    """Pure transform: one micro-batch of documents -> the subset that
    is new, deduped within the batch (deterministic: min doc_id wins a
    within-batch tie) and not present in the index."""
    fp = batch.withColumn("fingerprint", fingerprint(F.col("text")))
    within = (
        fp.groupBy("fingerprint")
        .agg(F.min(F.struct("doc_id", *[c for c in batch.columns if c != "doc_id"])).alias("doc"))
        .select("fingerprint", "doc.*")
    )
    return within.join(index, "fingerprint", "left_anti")


def incremental_dedup_writer(out_path: str, index_path: str, target_files: int = 4):
    """foreachBatch function: effectively-once append of new-unique
    docs to ``out_path`` and their fingerprints to ``index_path``.

    Staged-commit protocol shared with the near-dup writer (see
    streaming/commit.py): a replayed batch id with a commit marker is a
    no-op, and half-written files from a crashed attempt are named by
    batch id so they are swept before re-publish.
    """
    from .commit import read_state, staged_foreach_batch

    def _body(batch_df: DataFrame, batch_id: int, staging: dict) -> None:
        # the wrapper has already swept this batch id's half-published
        # files, so reading the index here cannot see a crashed
        # attempt's own fingerprints (the ADVICE r3 replay data-loss
        # window); read_state also hides any other batch published but
        # not marked
        spark = batch_df.sparkSession
        index = read_state(spark, index_path, INDEX_SCHEMA, marker_dir=out_path)
        fresh = dedup_batch_against_index(batch_df, index)
        fresh.repartition(target_files).write.mode("overwrite").parquet(
            staging[out_path]
        )
        (
            spark.read.parquet(staging[out_path])
            .select("fingerprint")
            .repartition(1)
            .write.mode("overwrite")
            .parquet(staging[index_path])
        )

    return staged_foreach_batch(out_path, [out_path, index_path], _body)


def incremental_dedup_stream(
    docs_stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
):
    """writeStream wiring: document stream -> incremental dedup sink."""
    return docs_stream.writeStream.foreachBatch(
        incremental_dedup_writer(out_path, index_path)
    ).option("checkpointLocation", checkpoint)
