"""Incremental NEAR-dup dedup of a document stream against a
persistent MinHash band index.

The exact streaming path (incremental_dedup.py) only drops verbatim
re-ingests; a training-data pipeline also needs the streaming form of
"this new document is a near-duplicate of something ingested last
month" -- without re-reading the corpus. State per corpus document is
the MinHash signature (MINHASH_HASHES longs) exploded into its
MINHASH_BANDS band buckets: the same signature family and banding
geometry as the batch operator ``operators.dedup.minhash_lsh_pairs``
(xxhash64 base hash, per-index rehash, per-band bucket hash), so the
streaming index and the batch operator agree on what "probably
near-duplicate" means.

Decision rule: a document is dropped when its signature agrees with an
indexed (or smaller-id same-batch) signature on at least
``MIN_MATCHING_HASHES`` of the MINHASH_HASHES minhashes -- the
signature estimate of Jaccard >= JACCARD_THRESHOLD (est granularity is
1/16, so 0.8 -> ceil(0.8*16) = 13 matches). Unlike the batch operator
there is no exact-Jaccard verification step: the corpus text is not
retained in the index (signatures only -- 128 bytes/doc instead of the
document), which is the state bound that makes the streaming form
viable at corpus scale. Within a batch the greedy min-id rule applies
(a doc is dropped when ANY smaller-id batch doc collides, surviving or
not -- the q_semantic_dedup convention), so surviving pairs never
collide. Across batches, only indexed survivors are compared; as with
any greedy streaming dedup, the kept-set can depend on batch
boundaries when a dropped document was the only bridge between two
non-colliding ones.

Scale shape: the per-batch band join touches only same-bucket index
rows (bucketable by ``bucket`` exactly like the exact index's
fingerprint bucketing); the signature comparison is a 16-element
array zip on candidate pairs only; appends are monotonic and the
staged-commit marker protocol makes replays no-ops.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..lineage import cut_lineage
from ..operators.dedup import (
    MINHASH_HASHES,
    _shingle_arrays,
    minhash_band_buckets,
    minhash_base_hashes,
    minhash_signature,
)

#: ceil(JACCARD_THRESHOLD * MINHASH_HASHES): signature-estimated
#: Jaccard >= 0.8 at 16 hashes.
MIN_MATCHING_HASHES = 13

INDEX_SCHEMA = StructType(
    [
        StructField("bucket", LongType(), False),
        StructField("band", IntegerType(), False),
        StructField("doc_id", LongType(), False),
        StructField("sig", ArrayType(LongType(), False), False),
    ]
)


def minhash_sig_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, sig, band, bucket) -- one row per band per document
    with >= 3 tokens (shingle-less docs carry no signature and cannot
    near-collide; callers pass them through as unique). Built from the
    same column builders as operators.dedup.minhash_lsh_pairs
    (``minhash_base_hashes``, ``minhash_signature``,
    ``minhash_band_buckets``), so both agree hash for hash."""
    hashed = _shingle_arrays(docs).select(
        "doc_id", minhash_base_hashes(F.col("sh")).alias("hs")
    )
    with_sig = hashed.select(
        "doc_id", F.array(*minhash_signature(F.col("hs"))).alias("sig")
    )
    band_hashes = minhash_band_buckets(
        [F.col("sig")[i] for i in range(MINHASH_HASHES)]
    )
    return with_sig.select(
        "doc_id", "sig", F.posexplode(band_hashes).alias("band", "bucket")
    )


def _sig_matches(s1, s2):
    return F.size(F.filter(F.zip_with(s1, s2, lambda a, b: a == b), lambda x: x))


def neardup_batch_against_index(batch: DataFrame, index: DataFrame) -> DataFrame:
    """Pure transform: one micro-batch of documents -> the subset that
    is not a near-duplicate of the index or of a smaller-id batch doc.
    ``index`` rows follow INDEX_SCHEMA."""
    # materialize once: both the within-batch self-join and the index
    # join consume sb, and the signature build re-hashes every shingle
    # 16x if CollapseProject merges it into each consumer
    sb = minhash_sig_bands(batch).transform(cut_lineage)

    a, b = sb.alias("a"), sb.alias("b")
    within_dropped = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(_sig_matches(F.col("a.sig"), F.col("b.sig")) >= MIN_MATCHING_HASHES)
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
    )
    cross_dropped = (
        sb.join(
            index.select(
                F.col("band").alias("iband"),
                F.col("bucket").alias("ibucket"),
                F.col("sig").alias("isig"),
            ),
            (F.col("band") == F.col("iband")) & (F.col("bucket") == F.col("ibucket")),
        )
        .filter(_sig_matches(F.col("sig"), F.col("isig")) >= MIN_MATCHING_HASHES)
        .select("doc_id")
        .distinct()
    )
    dropped = within_dropped.union(cross_dropped).distinct()
    return batch.join(dropped, "doc_id", "left_anti")


def incremental_neardup_writer(out_path: str, index_path: str, target_files: int = 4):
    """foreachBatch function: effectively-once append of near-unique
    docs to ``out_path`` and their exploded band rows to
    ``index_path`` (staged-commit protocol shared with the exact
    writer -- streaming/commit.py)."""
    from .commit import read_state, staged_foreach_batch

    def _body(batch_df: DataFrame, batch_id: int, staging: dict) -> None:
        # sweep-before-read is enforced by the wrapper, and read_state
        # shows committed index rows only -- see incremental_dedup
        spark = batch_df.sparkSession
        index = read_state(spark, index_path, INDEX_SCHEMA, marker_dir=out_path)
        fresh = neardup_batch_against_index(batch_df, index)
        fresh.repartition(target_files).write.mode("overwrite").parquet(
            staging[out_path]
        )
        (
            minhash_sig_bands(spark.read.parquet(staging[out_path]))
            .select("bucket", "band", "doc_id", "sig")
            .repartition(1)
            .write.mode("overwrite")
            .parquet(staging[index_path])
        )

    return staged_foreach_batch(out_path, [out_path, index_path], _body)


def incremental_neardup_stream(
    docs_stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
):
    """writeStream wiring: document stream -> incremental near-dup sink."""
    return docs_stream.writeStream.foreachBatch(
        incremental_neardup_writer(out_path, index_path)
    ).option("checkpointLocation", checkpoint)
