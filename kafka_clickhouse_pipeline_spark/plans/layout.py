"""Physical-layout utilities for scale: bucketed tables (shuffle-free
fact-fact joins) and salted joins (hot-key skew).

These are two of the three operational levers SCALE.md names for the
plans that still shuffle at 100 TB:
- bucketing removes the lineitem><orders exchange entirely when both
  sides are written bucketed by the join key;
- salting splits a pathological hot key across ``salt_buckets``
  sub-keys (AQE skew-join handles moderate skew at runtime; salting is
  the deterministic heavy hammer for known-degenerate keys).

The third, compaction, bounds file counts on continuously-appended
tables (the MergeTree background-merge analog, SURVEY.md section 4);
it is ``streaming.sink.compact_partitions``, which replaces months
through the tables' commit markers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame, table_name: str, bucket_col: str, num_buckets: int = 8
) -> None:
    """Persist as a bucketed session-catalog table; two tables bucketed
    identically on their join key co-locate, and joining them needs no
    exchange (asserted in tests/test_layout.py)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a crashed prior run can leave the managed location behind
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/{table_name}", ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the left side's hot keys split across
    ``salt_buckets`` sub-partitions: left rows get a random-ish but
    deterministic salt (hash of the full row key-space via
    monotonically increasing id is NOT deterministic -- use a hash of
    stable columns), the right side is replicated across all salts.

    Result is identical to a plain join (verified in tests); the win is
    that a key with k rows lands in ``salt_buckets`` tasks instead of
    one. Right-side replication costs salt_buckets x |right|, so use
    for dimension-sized or pre-filtered right sides.
    """
    salt: Column = (F.xxhash64(*left.columns) % salt_buckets).cast("int")
    lsalted = left.withColumn("__salt", F.abs(salt))
    rsalted = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(salt_buckets).select(
                F.col("id").cast("int").alias("__salt")
            )
        )
    )
    out = lsalted.join(rsalted, [key, "__salt"], how)
    return out.drop("__salt")

